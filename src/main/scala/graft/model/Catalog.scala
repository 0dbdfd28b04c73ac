package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A catalog of "message tables" — the dp3 data model re-expressed on
  * Spark (reference: server/treemgr/treemgr.go:29-33 — a table is a
  * (producer, topic) pair).
  *
  * A scan returns a DataFrame with at least the canonical columns
  *   producer: string, topic: string, time: long (epoch ns),
  *   seq: long (ingest sequence)
  * plus any decoded payload columns. The dp3 time-partitioned COW tree
  * becomes a columnar layout whose pruning Catalyst performs from
  * parquet min/max + partition values; at 100 TB the ingest path
  * (graft.streaming.Ingest) lays data out bucketed by (topic, day) so
  * scans of one (producer, topic, time range) touch only matching
  * files.
  */
trait MessageCatalog {

  /** Scan one topic across all producers. The planner adds producer,
    * time-range, and field predicates on top — Catalyst pushes them
    * into the scan (reference walks its tree instead:
    * server/tree/iterator.go:148-199). One topic-wide scan keeps the
    * compiled plan O(1) in the producer count; a per-producer scan API
    * would force `from *` into thousands of plan branches. */
  def scanTopic(spark: SparkSession, topic: String): DataFrame

  /** Scan one topic with time bounds `[startNs, endNs)` applied where
    * the catalog can push them to the SOURCE. The default filters the
    * canonical `time` column — already pushable when `time` is a
    * physical column (IngestedCatalog's parquet layout). Catalogs whose
    * `time` is DERIVED from a raw on-disk column must override and
    * filter the raw column before projection, or Catalyst cannot turn
    * the bound into a parquet row-group prune — and at 100 TB the
    * time-range prune IS the engine (reference tree descent:
    * server/tree/iterator.go:148-199). */
  def scanTopic(spark: SparkSession, topic: String,
      between: Option[(Long, Long)]): DataFrame =
    between.foldLeft(scanTopic(spark, topic)) { case (df, (s, t)) =>
      df.where(org.apache.spark.sql.functions.col("time") >= s &&
        org.apache.spark.sql.functions.col("time") < t)
    }

  /** Convenience: one (producer, topic) table. */
  def scan(spark: SparkSession, producer: String, topic: String): DataFrame =
    scanTopic(spark, topic).where(
      org.apache.spark.sql.functions.col("producer") === producer)

  /** Producers that own any of the given topics — backs `from *`
    * (reference: server/plan/plan.go:366-400). */
  def producers(spark: SparkSession, topics: Seq[String]): Seq[String]
}

/** Catalog over the driver testdata `events` table, interpreted as a
  * message log: topic = event_type, producer = "p" + user_id,
  * time = ts (epoch ns), seq = event_id. The JSON `props` payload is
  * decoded to a typed column `k` — the analogue of dp3's lazy field
  * decoding of nested message payloads
  * (reference: server/util/schema/parser.go:551-589).
  */
final class EventsCatalog(sfDir: String) extends MessageCatalog
    with Serializable {
  import EventsCatalog._

  /** How `ts` is encoded ON DISK, from the parquet footer's logical
    * type annotation. The Spark-surfaced schema cannot distinguish
    * TIMESTAMP(NANOS) (a LongType only because nanosAsLong is set)
    * from a plain BIGINT of some other unit, so keying behavior off
    * the footer is the only non-guessing option. Read once per
    * catalog instance (a footer, not data), with the SESSION's Hadoop
    * conf — a bare `new Configuration()` would make the footer probe
    * fail on any filesystem needing session config (s3a credentials,
    * custom defaultFS) even though the subsequent spark.read of the
    * same path succeeds. */
  @transient @volatile private var tsEncCache: TsEncoding = _
  private def encoding(spark: SparkSession): TsEncoding = {
    if (tsEncCache == null)
      tsEncCache = readTsEncoding(s"$sfDir/events.parquet",
        spark.sessionState.newHadoopConf())
    tsEncCache
  }
  private def tsEnc: TsEncoding = {
    val e = tsEncCache
    require(e != null,
      "ts encoding not resolved yet — call through a path that " +
        "passes the SparkSession (messages/scanTopic) first")
    e
  }

  private def rawEvents(spark: SparkSession): DataFrame = {
    if (encoding(spark) == TsNanosLong)
      // required for the read to SUCCEED on TIMESTAMP(NANOS) files
      // (Spark otherwise rejects the type); a no-op conf for µs data,
      // so only set when the footer proves it's needed.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    else
      // µs path epoch-maps NTZ values through the session zone: the
      // identity mapping ONLY under UTC. Every entry point sets it;
      // assert so the invariant travels with the code relying on it.
      require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
        "EventsCatalog requires spark.sql.session.timeZone=UTC " +
          s"(got ${spark.conf.get("spark.sql.session.timeZone")})")
    spark.read.parquet(s"$sfDir/events.parquet")
  }

  /** Canonical projection. dp3 is nanosecond-native
    * (server/treemgr/treemgr.go time axis), so `time` is epoch ns
    * whatever the disk unit; `time_us` is the µs view every
    * oracle-facing output uses (DuckDB's epoch_us(ts)). */
  private def project(raw: DataFrame): DataFrame = {
    val (timeNs, timeUs) = tsEnc match {
      case TsNanosLong => // surfaced as raw ns long
        (col("ts").cast("long"), expr("ts div 1000"))
      case TsMicrosNtz | TsMicrosUtc =>
        // session tz asserted UTC, so NTZ→TZ cast is identity epoch map
        val us = unix_micros(col("ts").cast("timestamp"))
        (us * lit(1000L), us)
    }
    raw.select(
      concat(lit("p"), col("user_id").cast("string")).as("producer"),
      col("event_type").as("topic"),
      timeNs.as("time"),
      timeUs.as("time_us"),
      col("event_id").as("seq"),
      col("value"),
      col("props"),
      // decoded payload field (props = {"k": <int>})
      regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
        .cast("long").as("k")
    )
  }

  def messages(spark: SparkSession): DataFrame = project(rawEvents(spark))

  /** Time bounds on the RAW `ts` column — a bare-attribute comparison
    * Catalyst turns into parquet PushedFilters (row-group + page
    * pruning), unlike a predicate on the derived `time` column, which
    * it cannot invert through `unix_micros(cast(ts))*1000`. Exact, not
    * an over-approximation: µs-grain `time` values are multiples of
    * 1000, so `time >= s` ⇔ `us >= ceil(s/1000)` and `time < t` ⇔
    * `us < ceil(t/1000)`. */
  private def tsBetween(startNs: Long, endNs: Long): Column = {
    def ceilUs(ns: Long) = -Math.floorDiv(-ns, 1000L)
    tsEnc match {
      case TsNanosLong =>
        col("ts") >= startNs && col("ts") < endNs
      case TsMicrosNtz => // TimestampNTZType: LocalDateTime literal
        def l(us: Long) = lit(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC))
        col("ts") >= l(ceilUs(startNs)) && col("ts") < l(ceilUs(endNs))
      case TsMicrosUtc => // TimestampType: Instant literal
        def l(us: Long) = lit(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
        col("ts") >= l(ceilUs(startNs)) && col("ts") < l(ceilUs(endNs))
    }
  }

  override def scanTopic(spark: SparkSession, topic: String): DataFrame =
    scanTopic(spark, topic, None)

  override def scanTopic(spark: SparkSession, topic: String,
      between: Option[(Long, Long)]): DataFrame = {
    val raw = rawEvents(spark)
    val bounded = between.foldLeft(raw) { case (df, (s, t)) =>
      df.where(tsBetween(s, t))
    }
    project(bounded).where(col("topic") === topic)
  }

  override def producers(spark: SparkSession,
      topics: Seq[String]): Seq[String] = {
    // catalog lookup; small + cachable. In a production layout this is a
    // control table, not a scan (reference: server/rootmap/sqlrootmap.go:427).
    messages(spark)
      .where(col("topic").isin(topics: _*))
      .select("producer").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
  }
}

object EventsCatalog {
  /** The on-disk encodings `events.ts` has shipped with across testdata
    * generations. Anything else is a hard error, not a guess (a silent
    * 1000× time misread is worse than a crash). */
  private[model] sealed trait TsEncoding
  private[model] case object TsNanosLong  extends TsEncoding // TIMESTAMP(NANOS)
  private[model] case object TsMicrosNtz  extends TsEncoding // TIMESTAMP(MICROS), naive
  private[model] case object TsMicrosUtc  extends TsEncoding // TIMESTAMP(MICROS), UTC-adjusted

  private[model] def readTsEncoding(path: String,
      conf: org.apache.hadoop.conf.Configuration): TsEncoding = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
      else p
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val ann = reader.getFooter.getFileMetaData.getSchema
        .getType(Seq("ts"): _*).asPrimitiveType.getLogicalTypeAnnotation
      ann match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.NANOS => TsNanosLong
            case LogicalTypeAnnotation.TimeUnit.MICROS =>
              if (t.isAdjustedToUTC) TsMicrosUtc else TsMicrosNtz
            case u => throw new IllegalStateException(
              s"events.ts: unsupported parquet timestamp unit $u")
          }
        case other => throw new IllegalStateException(
          s"events.ts is not a parquet TIMESTAMP (annotation: $other)")
      }
    } finally reader.close()
  }
}

/** Catalog over an arbitrary pre-shaped DataFrame holding the canonical
  * columns — used by tests to replay the reference's synthetic fixtures.
  */
final class DataFrameCatalog(df: DataFrame) extends MessageCatalog {
  override def scanTopic(spark: SparkSession, topic: String): DataFrame =
    df.where(col("topic") === topic)

  override def producers(spark: SparkSession,
      topics: Seq[String]): Seq[String] =
    df.where(col("topic").isin(topics: _*))
      .select("producer").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
}

/** Catalog with one (possibly differently-shaped) DataFrame per topic —
  * models dp3's per-table trees where schemas ride with the data and a
  * topic's schema is discovered at scan time (reference:
  * server/executor/expression.go:17-34). */
final class TopicMapCatalog(topics: Map[String, DataFrame])
    extends MessageCatalog {
  override def scanTopic(spark: SparkSession, topic: String): DataFrame =
    topics.getOrElse(topic, throw new IllegalArgumentException(
      s"no such topic '$topic'"))

  override def producers(spark: SparkSession,
      ts: Seq[String]): Seq[String] =
    ts.flatMap(t => topics.get(t).toSeq)
      .map(_.select(col("producer")).distinct())
      .reduce(_.union(_))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
}

/** Catalog over a store written by `Ingest.startWithStats` /
  * `Ingest.importMcap`: one manifest at `<dataDir>/_manifest` lists the
  * (topic, day)-partitioned data and the stats, control and per-field
  * stats trees in their own directories (the layout is documented on
  * [[graft.streaming.Ingest]]). Every face resolves the newest manifest
  * once through [[graft.util.ControlCache]] and reads only the files it
  * lists, with the header's schema — no schema-inference job, no
  * listing, and never a storage mutation — so a read that overlaps a
  * commit sees the store before or after it. A topic scan reads only
  * that topic's files. Producer discovery reads the kilobyte-scale
  * control tree — the reference's rootmap lookup
  * (server/rootmap/sqlrootmap.go:427-461) — so `from *` planning
  * touches no event data at any scale. */
final class IngestedCatalog(val dataDir: String, val statsDir: String,
    val controlDir: String, val fieldStatsDir: Option[String] = None)
    extends MessageCatalog with Serializable {
  import graft.streaming.Ingest

  private def dirs = Map("data" -> dataDir, "stats" -> statsDir,
    "control" -> controlDir) ++ fieldStatsDir.map("fstats" -> _)

  /** The newest committed manifest, or a loud failure. */
  private[graft] def manifest(spark: SparkSession): graft.util.Manifest =
    Ingest.log(spark, dirs).committed("read")

  private def tree(spark: SparkSession, name: String,
      keep: graft.util.DataFile => Boolean = _ => true): DataFrame =
    Ingest.read(spark, dirs, manifest(spark), name, keep)

  /** `load`, computed once per committed manifest
    * ([[graft.util.ControlCache]] on the manifest directory). */
  private[graft] def cached[T](spark: SparkSession, what: String)
      (load: => T): T = {
    val dir = new org.apache.hadoop.fs.Path(dataDir, "_manifest")
    graft.util.ControlCache.cachedAll(what, Seq(
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration) -> dir))(load)
  }

  def messages(spark: SparkSession): DataFrame = tree(spark, "data")

  def stats(spark: SparkSession): DataFrame = tree(spark, "stats")

  /** The driver budget on the stats bytes a manifest lists: a store
    * within it has its partials resident on the driver
    * ([[statRollup]]). Derived from this JVM's heap
    * ([[IngestedCatalog.budget]]); a seam for specs, no option sets
    * it. */
  private[graft] var statRollupBudget: Long = IngestedCatalog.budget(
    Runtime.getRuntime.maxMemory, IngestedCatalog.HeapPerStatsByte)

  /** `load` resident on the driver: computed once per committed manifest
    * by one `plan:statcache` job when the manifest lists at most
    * `budget` bytes of `tree`; None above the budget. `load` must read
    * the manifest itself: the cache takes the manifest's fingerprint
    * before it runs `load`, so a commit in between costs one reload on
    * the next request, where rows of `m` would be kept under the newer
    * fingerprint. */
  private def resident[T](spark: SparkSession, m: graft.util.Manifest,
      tree: String, what: String, budget: Long)(load: => T): Option[T] =
    if (m.filesOf(tree).map(_.bytes).sum > budget) None
    else Some(cached(spark, s"$what ${dirs(tree)}") {
      graft.util.JobDesc(spark.sparkContext, "plan:statcache")(load)
    })

  /** The stats tree's partials resident on the driver ([[resident]]);
    * None over [[statRollupBudget]], and a stat request is served
    * through Spark instead. */
  private[graft] def statRollup(spark: SparkSession)
      : Option[graft.stats.StatRollup] =
    resident(spark, manifest(spark), "stats", "stat-rollup",
      statRollupBudget)(graft.stats.StatRollup(stats(spark)))

  /** The driver budget on the listed bytes of the tree backing the
    * statfilter: within it, [[statFilterTier]] is resident on the
    * driver. The smaller of the heap rule ([[IngestedCatalog.budget]])
    * and [[IngestedCatalog.FilterCrossoverBytes]]; a seam for specs, no
    * option sets it. */
  private[graft] var statFilterBudget: Long = math.min(
    IngestedCatalog.budget(Runtime.getRuntime.maxMemory,
      IngestedCatalog.HeapPerFilterByte),
    IngestedCatalog.FilterCrossoverBytes)

  /** The statfilter's tier: the per-field partials when the store keeps
    * them, else the stats tree's `num_min`/`num_max` as
    * `value__min`/`value__max` — either way only the keys,
    * `ingest_version` and the columns [[graft.stats.StatFilter]] reads.
    * Within [[statFilterBudget]] it is [[resident]], like the stat
    * rollup, as one local frame: the statfilter's filters fold into a
    * local relation and its collect launches no job. Over the budget it
    * is the Spark plan over the tree's files. */
  private[graft] def statFilterTier(spark: SparkSession): DataFrame = {
    val name = if (fieldStatsDir.isDefined) "fstats" else "stats"
    def face(m: graft.util.Manifest): DataFrame = {
      val t = Ingest.read(spark, dirs, m, name, _ => true)
      if (fieldStatsDir.isDefined)
        t.select(graft.stats.StatFilter.tierColumns(t.columns).map(col): _*)
      else t.select(col("producer"), col("topic"), col("bucket"),
        col("ingest_version"), col("num_min").as("value__min"),
        col("num_max").as("value__max"))
    }
    val m = manifest(spark)
    resident(spark, m, name, "statfilter-tier", statFilterBudget)(
      new IngestedCatalog.LocalTier(face(manifest(spark))))
      .fold(face(m))(_.in(spark))
  }

  /** Per-field stat partials (`Ingest.startWithStats` with
    * `fieldStats`) — the statfilter's pruning source and the stored
    * face of `statRangeFields`. */
  def fieldStats: Option[SparkSession => DataFrame] =
    fieldStatsDir.map(_ => (s: SparkSession) => tree(s, "fstats"))

  def control(spark: SparkSession): DataFrame = tree(spark, "control")

  override def scanTopic(spark: SparkSession, topic: String): DataFrame =
    tree(spark, "data", Ingest.topicOf(_) == topic)
      .where(col("topic") === topic)

  /** The control tree's (producer, topic) pairs, computed once per
    * committed manifest: a repeated `from *` plans without a Spark
    * job. */
  override def producers(spark: SparkSession,
      topics: Seq[String]): Seq[String] = {
    val pairs = cached(spark, "producer-topic") {
      control(spark).select("producer", "topic").distinct()
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    }
    val wanted = topics.toSet
    pairs.collect { case (p, t) if wanted(t) => p }.distinct.sorted
  }
}

object IngestedCatalog {
  /** The listed bytes of a tree whose driver-resident form retains at
    * most 1/16 of a driver heap of `maxHeap` bytes, at `heapPerByte`
    * heap bytes per listed byte (the measured factors below; the stat
    * rollup's is about 24 MiB under `-Xmx3g`). A load briefly holds the
    * collected rows beside the resident form. */
  def budget(maxHeap: Long, heapPerByte: Long): Long =
    maxHeap / 16 / heapPerByte

  /** Driver heap a [[graft.stats.StatRollup]] retains per listed stats
    * byte, rounded up. Spark's `SizeEstimator` over the rollup against
    * the manifest's stats bytes read 4.3 on the `serve` bench store
    * (307 KB listed) and 6.7, 7.2 and 6.0 on stores of 2, 40 and 3000
    * values per base bucket and table (0.4–1.6 MB listed). */
  val HeapPerStatsByte = 8L

  /** Driver heap a resident statfilter tier ([[LocalTier]]) retains per
    * listed byte of its tree, rounded up: Spark's `SizeEstimator` over
    * its local relation's rows read 16.3–16.8 on stores of 2 values per
    * base bucket and table (32k–128k tier rows, 0.95–3.9 MB listed). */
  val HeapPerFilterByte = 17L

  /** The listed bytes of the statfilter's tree above which the Spark
    * face plans a pruned scan faster than a resident tier. A resident
    * tier filters ALL its rows on the driver for every pruned scan
    * (interpreted, about 1.4 µs a row), while the Spark face pays one
    * job whose cost hardly grows with the tier. Warm planning of a
    * pruned query, median ms resident vs Spark face (4-core VM, 16
    * producers × 4 topics, 2 values per base bucket and table, 31 B
    * listed per tier row): 77–102 vs 95–117 at 0.95 MB, 140–172 vs
    * 101–140 at 2.0 MB, 199–236 vs 104–115 at 3.9 MB. Sparse buckets
    * put the most tier rows in a listed byte, so the cutover is theirs:
    * denser tiers still gain somewhat above it (40 values per bucket,
    * 84 B per row: 57–63 vs 86–113 at 1.6 MB). */
  val FilterCrossoverBytes: Long = 1L << 20

  /** A statfilter tier on the driver: its rows collected once and held
    * as the local frame over them, so a request derives its filters
    * from that frame without encoding the rows again. Rebuilt from the
    * held rows only for another session. */
  private[graft] final class LocalTier(face: DataFrame) {
    @volatile private var frame: DataFrame =
      face.sparkSession.createDataFrame(face.collectAsList(), face.schema)

    def in(spark: SparkSession): DataFrame = {
      val f = frame
      if (f.sparkSession eq spark) f
      else {
        frame = spark.createDataFrame(f.collectAsList(), f.schema)
        frame
      }
    }
  }
}

/** Plain loaders for the TPC-H-ish driver tables. */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}
