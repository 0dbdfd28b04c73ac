package graft.export

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.mcap.Mcap

/** Query-result export surfaces.
  *
  * The reference multiplexes results into MCAP or, with
  * `Accept: application/json`, transcodes to newline-delimited JSON
  * rows of `{"topic","sequence","log_time","publish_time","data":{..}}`
  * with decimal-seconds timestamps (reference:
  * server/mcap/mcap_to_json.go:42-142, server/routes/query.go:101-135).
  *
  * `ndjson` is a streaming projection — one pass, no driver
  * materialization; write it with `df.write.text(...)` for a
  * distributed export of any size. `mcap`/`mcapRaw` produce the
  * reference's primary output: one multiplexed MCAP stream with
  * schema/channel records deduplicated and ids remapped in
  * first-appearance order (reference: server/mcap/
  * merge_coordinator.go:17-99, server/routes/export.go:32-81).
  * `writeMcapParts` is the 100 TB shape: per-partition part files.
  */
object Export {

  /** publish_time when the frame carries one, else log time (MCAP
    * rows decoded by [[Mcap.load]] keep the real publish_time; rows
    * synthesized from parquet tables only have `time`). */
  private def publishTime(df: DataFrame): Column =
    if (df.columns.contains("publish_time")) col("publish_time")
    else col("time")

  /** dp3 NDJSON shape over a canonical message frame. `dataCols` are
    * the decoded payload columns to nest under "data".
    *
    * `log_time`/`publish_time` render as DECIMAL SECONDS with 9-digit
    * nanos (`0.000000100`), the reference's wire format
    * (server/mcap/mcap_to_json.go:57-67 formatDecimalTime) — NOT raw
    * nanosecond integers, which a consumer would read 1e9 off. The
    * line is assembled from builtins only (to_json for the escaped
    * head and the data object, format_string for the time fields) so
    * the projection stays one codegen'd pass. */
  def ndjson(df: DataFrame, dataCols: Seq[String]): Dataset[String] = {
    import df.sparkSession.implicits._
    // corrupt-row defense: a null in any head field would make
    // format_string/concat yield a NULL line (the HTTP streamer then
    // NPEs mid-stream, after the 200 header) or drop the field from
    // the to_json head (invalid JSON when spliced). Coalesce to
    // zero values instead — a zero-time line beats a killed stream.
    // negative (pre-epoch) times are clamped to 0 alongside the null
    // coalesce: `%d.%09d` with div/% (truncate-toward-zero) would
    // render `0.-00000001` — invalid JSON. The reference can't emit
    // them (uint64 log times), so clamping matches its value domain.
    df.select(coalesce(col("topic"), lit("")).as("topic"),
        coalesce(col("seq"), lit(0L)).as("seq"),
        greatest(coalesce(col("time"), lit(0L)), lit(0L)).as("_lt"),
        greatest(coalesce(publishTime(df), col("time"), lit(0L)),
          lit(0L)).as("_pt"),
        struct(dataCols.map(col): _*).as("_data"))
      .withColumn("_head",
        to_json(struct(col("topic"), col("seq").as("sequence"))))
      .selectExpr(
        """concat(
          |  substring(_head, 1, length(_head) - 1),
          |  format_string(',"log_time":%d.%09d,"publish_time":%d.%09d,"data":',
          |    _lt div 1000000000, _lt % 1000000000,
          |    _pt div 1000000000, _pt % 1000000000),
          |  to_json(_data), '}') AS json""".stripMargin)
      .as[String]
  }

  /** Multi-topic export merge: the /export endpoint merges topic
    * streams k-way ordered by (log_time, tie) (reference:
    * server/treemgr/treemgr.go:1066-1116 — tie-break is channel id
    * there; topic name is our deterministic analogue). */
  def exportMerged(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "export of zero topics")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
      .orderBy(col("time").asc, col("topic").asc, col("seq").asc)
  }

  // --- MCAP multiplexing -------------------------------------------------

  /** The reference MergeCoordinator's id-remapping contract
    * (server/mcap/merge_coordinator.go:17-99): schemas dedup by
    * (name, encoding, bytes), channels by (schema, topic,
    * message-encoding); ids are assigned sequentially in first
    * appearance order of the output stream and each record is written
    * once, immediately before the first message that needs it. */
  private final class Mux(w: Mcap.Writer) {
    private val schemaIds = mutable.Map[(String, String, Seq[Byte]), Int]()
    private val channelIds = mutable.Map[(Int, String, String), Int]()
    // schema id 0 means "no schema" in MCAP, so schemas start at 1
    private var nextSchema = 1
    private var nextChannel = 0

    def write(schemaName: String, schemaEncoding: String,
        schemaData: Array[Byte], topic: String, messageEncoding: String,
        seq: Long, logTime: Long, publishTime: Long,
        data: Array[Byte]): Unit = {
      val sid = schemaIds.getOrElseUpdate(
        (schemaName, schemaEncoding, schemaData.toSeq), {
          val id = nextSchema; nextSchema += 1
          w.writeSchema(Mcap.SchemaRec(id, schemaName, schemaEncoding,
            schemaData))
          id
        })
      val cid = channelIds.getOrElseUpdate((sid, topic, messageEncoding), {
        val id = nextChannel; nextChannel += 1
        w.writeChannel(Mcap.ChannelRec(id, sid, topic, messageEncoding))
        id
      })
      w.writeMessage(Mcap.MessageRec(cid, seq, logTime, publishTime, data))
    }

    def writeMetadata(name: String, kv: Seq[(String, String)]): Unit =
      w.writeMetadata(name, kv)

    def finish(): Array[Byte] = w.finish()
  }

  private def jsonType(dt: DataType): String = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
      "integer"
    case _: FloatType | _: DoubleType | _: DecimalType => "number"
    case _: BooleanType => "boolean"
    case _ => "string"
  }

  /** Deterministic JSON-schema for the transcoded payload, analogous to
    * the schema the reference serves next to its JSON transcode. */
  private def jsonSchemaFor(df: DataFrame, dataCols: Seq[String]): String = {
    val props = dataCols.map { c =>
      s""""$c":{"type":"${jsonType(df.schema(c).dataType)}"}"""
    }.mkString(",")
    s"""{"type":"object","properties":{$props}}"""
  }

  private def consume(rows: Iterator[Row],
      write: (Mux, Row) => Unit,
      beforeFinish: Mux => Unit = _ => ()): Array[Byte] = {
    val mux = new Mux(new Mcap.Writer())
    rows.foreach(write(mux, _))
    beforeFinish(mux) // e.g. the in-band explain Metadata record
    mux.finish()
  }

  /** Project a canonical frame to the 5 columns the JSON-transcode
    * multiplexer consumes, preserving the frame's existing order. */
  private def jsonRows(df: DataFrame, dataCols: Seq[String]): DataFrame =
    df.select(col("topic"), col("seq").cast("long").as("seq"),
      col("time").cast("long").as("time"),
      publishTime(df).cast("long").as("_pub"),
      to_json(struct(dataCols.map(col): _*)).as("_json"))

  private def writeJsonRow(schemaData: Array[Byte])(m: Mux, r: Row): Unit =
    m.write(r.getString(0), "jsonschema", schemaData, r.getString(0),
      "json", r.getLong(1), r.getLong(2), r.getLong(3),
      r.getString(4).getBytes(UTF_8))

  /** Query result → one multiplexed MCAP byte stream, payload
    * transcoded to JSON (message encoding "json", schema encoding
    * "jsonschema" — both public MCAP well-known encodings). One
    * channel per topic, one shared payload schema, ids in first
    * appearance order. Driver-side single stream by construction —
    * this IS the reference's output shape (one HTTP response through
    * one writer); `toLocalIterator` pulls a partition at a time, so
    * the rows the driver holds are one partition — the whole answer
    * for a QL answer the planner emits as one partition
    * ([[graft.plan.Planner.emitBudget]]) — beside the stream it
    * returns. For unbounded exports use [[writeMcapParts]]. */
  def mcap(df: DataFrame, dataCols: Seq[String]): Array[Byte] =
    mcap(df, dataCols, explain = false)

  /** As [[mcap]]; with `explain = true` the stream additionally
    * carries a Metadata record named "query" whose "context" key is
    * the JSON NodeStats of THE RUN THAT PRODUCED THE STREAM (same
    * QueryExecution the multiplexer drained — one execution, exactly
    * like the reference's instrumented run,
    * server/executor/executor.go:87-94). */
  def mcap(df: DataFrame, dataCols: Seq[String], explain: Boolean)
      : Array[Byte] = {
    val schemaData = jsonSchemaFor(df, dataCols).getBytes(UTF_8)
    import scala.jdk.CollectionConverters._
    val rows = jsonRows(df, dataCols)
    consume(rows.toLocalIterator().asScala,
      writeJsonRow(schemaData),
      mux => if (explain)
        mux.writeMetadata("query", Seq("context" ->
          graft.plan.Planner.metricsJson(
            graft.plan.Planner.metricsOf(rows)))))
  }

  /** Multiplex already-binary messages (the [[Mcap.load]] canonical
    * shape: topic, schema_name, seq, time, publish_time, data) back
    * into one MCAP stream. `schemaDataFor`/encodings parameterize the
    * schema registry lookup; the default writes empty schema bytes —
    * the reference's own "skeleton" export mode
    * (merge_coordinator.go:30-31). */
  def mcapRaw(df: DataFrame,
      schemaDataFor: String => Array[Byte] = _ => Array.emptyByteArray,
      schemaEncoding: String = "ros1msg",
      messageEncoding: String = "ros1"): Array[Byte] = {
    import scala.jdk.CollectionConverters._
    val rows = df.select(col("topic"), col("schema_name"),
      col("seq").cast("long"), col("time").cast("long"),
      publishTime(df).cast("long"), col("data"))
    consume(rows.toLocalIterator().asScala, (m, r) => {
      val schemaName = r.getString(1)
      m.write(schemaName, schemaEncoding, schemaDataFor(schemaName),
        r.getString(0), messageEncoding, r.getLong(2), r.getLong(3),
        r.getLong(4), r.getAs[Array[Byte]](5))
    })
  }

  /** Distributed MCAP export: range-partition by time, sort within
    * partitions, write one self-contained MCAP file per partition
    * (each with its own schema/channel records — independently
    * readable, byte-deterministic, and k-way re-mergeable, which is
    * how a 1000-executor export ships 100 TB without a driver
    * bottleneck). Returns the part paths. */
  /** Training-shard writer for [[graft.pipeline.Sampling
    * .packSequences]] output: the csv faces are the oracle surface,
    * but a dataloader consumes packed int arrays — this emits one
    * parquet shard PER PACK LANE, each row a fixed-length
    * `array<int>` id sequence plus the parallel `array<int>` document
    * start offsets, rows ordered by `seq_idx` within the shard.
    *
    * Deterministic placement with ZERO added exchange: packSequences'
    * one hashpartitioning(pack_bucket) exchange leaves every lane
    * wholly inside one task, so `partitionBy("pack_bucket")` lands
    * each lane in its own `pack_bucket=<lane>` directory as exactly
    * ONE part file — the directory name, not a task-placement
    * accident, is the shard id (where Ingest.optimize needs salt ints
    * to force injective task placement, the lane column here already
    * IS the placement key). Rebuilds are bit-deterministic per shard:
    * lane membership is a salted hash of the doc id and the
    * within-shard order is (seq_idx), both pure functions of the
    * input. ExportSpec gates the single-exchange plan, the
    * one-file-per-lane layout, and the csv↔array round-trip. */
  def writeSequenceShards(packed: DataFrame, outDir: String,
      mode: String = "error"): Unit =
    sequenceShardFrame(packed)
      .write.mode(mode).partitionBy("pack_bucket").parquet(outDir)

  /** The shard frame (plan-gateable without a filesystem write):
    * csv faces → int arrays, row-local; local sort by seq_idx. */
  def sequenceShardFrame(packed: DataFrame): DataFrame =
    packed.select(col("pack_bucket"), col("seq_idx"), col("n_docs"),
        split(col("starts_csv"), ",").cast("array<int>").as("starts"),
        split(col("ids_csv"), ",").cast("array<int>").as("ids"))
      .sortWithinPartitions(col("pack_bucket"), col("seq_idx"))

  def writeMcapParts(df: DataFrame, dataCols: Seq[String], outDir: String,
      numParts: Int): Seq[String] = {
    val schemaData = jsonSchemaFor(df, dataCols).getBytes(UTF_8)
    val parts = jsonRows(df, dataCols)
      .repartitionByRange(numParts, col("time"), col("topic"), col("seq"))
      .sortWithinPartitions(col("time"), col("topic"), col("seq"))
    // Configuration is Writable but not Serializable — ship it wrapped
    val hadoopConf = new org.apache.spark.SerializableWritable(
      new org.apache.hadoop.conf.Configuration(
        df.sparkSession.sparkContext.hadoopConfiguration))
    parts.rdd.mapPartitionsWithIndex { (i, it) =>
      if (it.isEmpty) Iterator.empty
      else {
        val bytes = consume(it, writeJsonRow(schemaData))
        val path = new org.apache.hadoop.fs.Path(
          outDir, f"part-$i%05d.mcap")
        val fs = path.getFileSystem(hadoopConf.value)
        val out = fs.create(path, true)
        try out.write(bytes) finally out.close()
        Iterator.single(path.toString)
      }
    }.collect().toSeq.sorted
  }
}
