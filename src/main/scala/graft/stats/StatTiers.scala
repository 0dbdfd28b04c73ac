package graft.stats

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Multigranular associative statistics — dp3's inner-node statistics
  * surface rebuilt as tiered summary tables (reference:
  * server/nodestore/statistics.go:99-179 for the per-field stats,
  * server/tree/tree.go:214-258 for the multigranular descent,
  * server/treemgr/treemgr.go:384-501 for cross-producer bin merge).
  *
  * Tier 0 aggregates raw messages into fixed-width time buckets
  * (reference leaf width: 60 s). Every coarser tier is computed FROM THE
  * PREVIOUS TIER by merging buckets — never from raw data — which is
  * the property that lets a 100 TB table serve year-wide stat queries
  * from kilobytes: each merge is associative (min/min, max/max, sum/sum,
  * count/count, sketch map-union). Means are derived at serve time from
  * (sum, count); quantiles from the DDSketch column.
  *
  * The granularity contract matches the reference ("at least as fine as
  * requested", server/tree/tree.go:209-213): serve() picks the coarsest
  * tier whose width divides into the request no coarser than asked.
  */
object StatTiers {

  /** exact decimal sum type used so rollups are bit-identical however
    * the merge tree is shaped (double summation is not associative) */
  private val Dec = DecimalType(28, 6)

  val sketchOf = udaf(new DDSketch.SketchAgg)
  val sketchMerge = udaf(new DDSketch.MergeAgg)

  // NOTE (round-11 A/B, kept for the next reader): re-expressing the
  // sketch as a codegen'd bin-count aggregation (per-row bucket key,
  // HashAggregate over (group, field, bin), map_from_entries at the
  // end, left-join back) was implemented and MEASURED SLOWER at
  // sf0.1 — q_stats_tier 1.5 -> 2.5 s warm — because it adds two
  // shuffles and a join to plans that are stage-latency-bound, while
  // the typed-agg cost it removes is small once the aggregator uses
  // mutable kryo buffers (DDSketch.Buf). The single-pass groupBy with
  // sketchOf stays; revisit only if tier-0 row volume per group grows
  // enough that object aggregation dominates the stage.

  /** Tier 0: raw canonical messages → per-(producer, topic, bucket)
    * stats on `valueCol`. NaN/Inf are excluded from numeric stats but
    * still counted, mirroring statistics.go:108-127. */
  def base(messages: DataFrame, widthNs: Long, valueCol: String = "value")
      : DataFrame = {
    val v = col(valueCol)
    val finite = !isnan(v) && !v.isin(Double.PositiveInfinity,
      Double.NegativeInfinity)
    val flat = messages
      // `div` = exact integer division: time is epoch ns (~1.7e18),
      // beyond double's 2^53 exact range, so `/` would corrupt buckets
      .groupBy(col("producer"), col("topic"),
        expr(s"time div ${widthNs}L").as("bucket"))
      .agg(
        count(lit(1)).as("msg_count"),
        count(when(finite, 1)).as("num_count"),
        min(when(finite, v)).as("num_min"),
        max(when(finite, v)).as("num_max"),
        sum(when(finite, v).cast(Dec)).as("num_sum"),
        min(col("time")).as("min_time"),
        max(col("time")).as("max_time"),
        // nulls are routed through NaN so the sketch SKIPS them —
        // a null fed to a primitive-Double aggregator would decode
        // as a phantom 0.0 sample
        sketchOf(coalesce(v, lit(Double.NaN))).as("sketch"))
    flat.withColumn("width_ns", lit(widthNs))
  }

  // --- per-field statistics ---------------------------------------------

  /** Tier 0 over EVERY field of the schema at once — the reference
    * computes statistics for each flattened field of each message
    * schema (reference: server/nodestore/statistics.go:99-179,305-313;
    * field flattening server/util/schema/parser.go:551-589 — feed
    * [[graft.ros1.Ros1Msg]] flat columns here for decoded robotics
    * data). ONE groupBy computes all fields' aggregates in a single
    * shuffle of partial states (map-side combined) — never one pass
    * per field. Numeric fields get count/min/max/exact-sum/sketch,
    * string fields min/max, like the reference's numerical/text
    * summaries. Wide layout (columns per field) keeps the tier table
    * mergeable by the same suffix rules at every granularity;
    * [[serveFields]] unpivots to the reference's flat per-field
    * records without another shuffle. */
  def baseFields(messages: DataFrame, widthNs: Long,
      numericFields: Seq[String], textFields: Seq[String]): DataFrame = {
    require(numericFields.nonEmpty || textFields.nonEmpty,
      "no fields to aggregate")
    // The text min/max aggregates demote this aggregation to
    // SortAggregate (string buffers are not fixed-width, so
    // HashAggregate refuses the whole thing), and SortAggregate
    // evaluates its input expressions INTERPRETED, per row. So every
    // non-trivial input (isnan/isin CASE, decimal cast) is
    // pre-projected into a named column inside whole-stage codegen,
    // and the aggregate only touches bare attributes — measured 39 ->
    // 33 s of task time on the sf0.1 tier-0 stage (the remainder is
    // the sort + per-row buffer updates themselves, which only a
    // string-free aggregate would avoid; split-and-join shapes cost
    // more in stage latency than they save — see the A/B note above).
    val finCols: Seq[(String, org.apache.spark.sql.Column)] =
      numericFields.flatMap { f =>
        val v = col(f).cast("double")
        val finite = !isnan(v) && !v.isin(Double.PositiveInfinity,
          Double.NegativeInfinity)
        // the decimal face derives from the PROJECTED column: a
        // single-referenced projection gets inlined back into the
        // aggregate by CollapseProject, but _fin_$f ends up
        // multiply-referenced (count/min/max + this cast), so the
        // expensive CASE stays materialized and only the bare cast
        // rides into the agg input
        Seq(s"_fin_$f" -> when(finite, v),
          s"_find_$f" -> col(s"_fin_$f").cast(Dec))
      }
    val aggs = numericFields.flatMap { f =>
      Seq(
        count(col(s"_fin_$f")).as(s"${f}__count"),
        min(col(s"_fin_$f")).as(s"${f}__min"),
        max(col(s"_fin_$f")).as(s"${f}__max"),
        sum(col(s"_find_$f")).as(s"${f}__sum"),
        // nulls routed through NaN: the sketch skips them (see base)
        sketchOf(coalesce(col(s"_fin_$f"), lit(Double.NaN)))
          .as(s"${f}__sketch"))
    } ++ textFields.flatMap { f =>
      // trigram signature rides with every text summary, like the
      // reference's TextSummary (statistics.go:237,359) — [[StatFilter]]
      // uses it to prune string-equality scans. bit_or over per-row
      // mask words: primitive agg buffers, whole-stage codegen.
      Seq(min(col(f)).as(s"${f}__tmin"), max(col(f)).as(s"${f}__tmax")) ++
        (0 until Trigram.Words).map(w =>
          expr(s"bit_or(element_at(_trgm_masks_$f, ${w + 1}))")
            .as(s"${f}__trgm$w"))
    } ++ Seq(
      count(lit(1)).as("msg_count"),
      min(col("time")).as("min_time"),
      max(col("time")).as("max_time"))
    // the per-row projection (trigram md5s + mask folds, k-extraction
    // regexes) is the expensive part, and a small parquet file arrives
    // as ONE task — spread first so it runs at cluster parallelism.
    // Partitioning by the agg keys lets Catalyst elide the groupBy's
    // own exchange, so this is a REPLACED shuffle, not an added one.
    val input = graft.util.Spread.ensure(messages,
      Seq(col("producer"), col("topic"), expr(s"time div ${widthNs}L")))
    // both mask words come from ONE native codegen'd expression
    // (TrigramMasks — one md5 pass per row, no interpreted lambdas),
    // projected into a NAMED column so the two element_at references
    // share the evaluation rather than re-hashing per word
    val withMasks = textFields.foldLeft(input) { (df, f) =>
      df.withColumn(s"_trgm_masks_$f", Trigram.masksOf(col(f)))
    }
    val withFin = finCols.foldLeft(withMasks) { case (df, (n, c)) =>
      df.withColumn(n, c)
    }
    withFin
      .groupBy(col("producer"), col("topic"),
        expr(s"time div ${widthNs}L").as("bucket"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("width_ns", lit(widthNs))
  }

  /** Merge `factor` adjacent buckets of a per-field tier: every column
    * merges by its suffix (count/sum → sum, min → min, max → max,
    * sketch → map-union) — associative, so any rollup tree shape gives
    * bit-identical tiers. */
  def rollupFields(tier: DataFrame, factor: Long): DataFrame = {
    val aggs = tier.columns.filterNot(Set("producer", "topic", "bucket",
      "width_ns")).map { c =>
      if (c.endsWith("__count") || c.endsWith("__sum")
        || c == "msg_count") sum(col(c)).as(c)
      else if (c.endsWith("__min") || c.endsWith("__tmin")
        || c == "min_time") min(col(c)).as(c)
      else if (c.endsWith("__max") || c.endsWith("__tmax")
        || c == "max_time") max(col(c)).as(c)
      else if (c.endsWith("__sketch")) sketchMerge(col(c)).as(c)
      else if (c.matches(".*__trgm\\d+")) expr(s"bit_or(`$c`)").as(c)
      else first(col(c)).as(c)
    }.toSeq :+ first(col("width_ns")).as("_w0")
    tier
      .groupBy(col("producer"), col("topic"),
        expr(s"bucket div ${factor}L").as("bucket"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("width_ns", col("_w0") * lit(factor))
      .drop("_w0")
  }

  /** Unpivot a per-field tier to the reference's flat per-field range
    * records (statistics.go:276-339): one row per (producer, topic,
    * bin, field) with type = numeric|text. The unpivot is a pure
    * projection + explode; quantiles (when requested) ride the
    * columnar row face — each field's sketch map explodes to (kb, c)
    * rows, a window cumsum ranks them, and the per-field quantile
    * table joins back on the bin key. No typed aggregator, no
    * interpreted per-bin UDF (round-13: the serving surface retired
    * the map-face quantile UDF; [[DDSketch.quantile]] remains the
    * spec-checked reference implementation). */
  def serveFields(tier: DataFrame, numericFields: Seq[String],
      textFields: Seq[String],
      quantiles: Seq[Double] = Seq(0.5, 0.95)): DataFrame = {
    val start = col("bucket") * col("width_ns")
    val numRows = numericFields.map { f =>
      struct(
        lit(f).as("field"), lit("numeric").as("field_type"),
        col(s"${f}__count").as("num_count"),
        col(s"${f}__min").as("num_min"),
        col(s"${f}__max").as("num_max"),
        col(s"${f}__sum").cast("double").as("num_sum_d"),
        (col(s"${f}__sum").cast("double") / col(s"${f}__count"))
          .as("num_mean"),
        lit(null).cast("string").as("text_min"),
        lit(null).cast("string").as("text_max"))
    }
    val textRows = textFields.map { f =>
      struct(
        lit(f).as("field"), lit("text").as("field_type"),
        lit(null).cast("long").as("num_count"),
        lit(null).cast("double").as("num_min"),
        lit(null).cast("double").as("num_max"),
        lit(null).cast("double").as("num_sum_d"),
        lit(null).cast("double").as("num_mean"),
        col(s"${f}__tmin").as("text_min"),
        col(s"${f}__tmax").as("text_max"))
    }
    val flat = tier.select(col("producer"), col("topic"),
        start.as("start_ns"), (start + col("width_ns")).as("end_ns"),
        col("msg_count"),
        explode(array((numRows ++ textRows): _*)).as("_f"))
      .select(col("producer"), col("topic"), col("start_ns"),
        col("end_ns"), col("msg_count"), col("_f.*"))
    if (quantiles.isEmpty) flat
    else withQuantiles(flat, fieldQuantileTable(tier, numericFields,
        quantiles),
      Seq("producer", "topic", "field", "start_ns"), quantiles,
      byFieldType = true)
  }

  /** The per-field quantile table for a rolled tier — None for
    * text-only field sets (a supported configuration: the serve faces
    * then emit null quantile columns without a join). */
  private def fieldQuantileTable(tier: DataFrame,
      numericFields: Seq[String], quantiles: Seq[Double])
      : Option[DataFrame] =
    if (numericFields.isEmpty) None
    else Some(serveQuantileRows(
        fieldSketchRowsOfTier(tier, numericFields), quantiles,
        keys = Seq("producer", "topic", "field"))
      .withColumn("start_ns", col("bucket") * col("width_ns"))
      .drop("bucket", "width_ns"))

  /** Left-join a quantile table onto flat serve records, fill the
    * DDSketch empty-map semantics (NaN for numeric rows, null for
    * text), and restore the flat column order — the ONE
    * implementation behind every serving face (four hand-rolled
    * copies had already diverged once: the text-only path). */
  private def withQuantiles(flat: DataFrame, qt: Option[DataFrame],
      joinKeys: Seq[String], quantiles: Seq[Double],
      byFieldType: Boolean): DataFrame = {
    val pCols = quantiles.map(p => s"p${(p * 100).toInt}")
    val joined = qt match {
      case Some(q) => flat.join(q, joinKeys, "left")
      case None => pCols.foldLeft(flat)((df, n) =>
        df.withColumn(n, lit(null).cast("double")))
    }
    val fixed = pCols.foldLeft(joined) { (df, n) =>
      val filled = coalesce(col(n), lit(Double.NaN))
      df.withColumn(n,
        if (byFieldType) when(col("field_type") === "numeric", filled)
        else filled)
    }
    fixed.select((flat.columns.map(col) ++ pCols.map(col)): _*)
  }

  /** Per-field sketch maps of a per-field tier in (kb, c) row form —
    * one generator explode over the concatenated entry structs (the
    * transform lambdas run over kilobyte-scale summary rows, never
    * data rows). The adapter that lets stored map-face field partials
    * ride the codegen'd columnar quantile path. */
  def fieldSketchRowsOfTier(tier: DataFrame,
      numericFields: Seq[String]): DataFrame = {
    require(numericFields.nonEmpty, "no numeric fields")
    // coalesce each field's entry list: baseFields always writes a
    // map, but a null sketch in a hand-built partial would otherwise
    // null the whole flatten and silently drop the SIBLING fields'
    // entries for that row
    val ents = flatten(array(numericFields.map { f =>
      coalesce(
        transform(map_entries(col(s"${f}__sketch")), e =>
          struct(lit(f).as("field"), e.getField("key").as("kb"),
            e.getField("value").as("c"))),
        expr("CAST(array() AS " +
          "ARRAY<STRUCT<field: STRING, kb: INT, c: BIGINT>>)"))
    }: _*))
    tier.select(col("producer"), col("topic"), col("bucket"),
        col("width_ns"), explode(ents).as("_e"))
      .select(col("producer"), col("topic"), col("bucket"),
        col("width_ns"), col("_e.field").as("field"),
        col("_e.kb").as("kb"), col("_e.c").as("c"))
  }

  /** Merge `factor` adjacent buckets of a tier into the next tier. */
  def rollup(tier: DataFrame, factor: Long): DataFrame =
    tier
      .groupBy(col("producer"), col("topic"),
        expr(s"bucket div ${factor}L").as("bucket"))
      .agg(
        sum(col("msg_count")).as("msg_count"),
        sum(col("num_count")).as("num_count"),
        min(col("num_min")).as("num_min"),
        max(col("num_max")).as("num_max"),
        sum(col("num_sum")).as("num_sum"),
        min(col("min_time")).as("min_time"),
        max(col("max_time")).as("max_time"),
        sketchMerge(col("sketch")).as("sketch"),
        first(col("width_ns")).as("_w0")
      )
      .withColumn("width_ns", col("_w0") * lit(factor))
      .drop("_w0")

  /** The reference's quantile set (statistics.go:276-339). */
  val DefaultQuantiles: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.95, 0.99)

  /** Serve a stat-range request from a tier: flat records like the
    * reference's /statrange response (statistics.go:276-339).
    * Quantiles ride the columnar row face — the tier's sketch maps
    * explode to (kb, c) rows, a window cumsum ranks them, and the
    * quantile table joins back per bin. No typed aggregator, no
    * interpreted per-bin UDF anywhere in the serve plan (round 13;
    * the map-face [[DDSketch.quantile]] stays as the spec-checked
    * reference implementation). */
  def serve(tier: DataFrame, quantiles: Seq[Double] = DefaultQuantiles)
      : DataFrame = {
    val start = col("bucket") * col("width_ns")
    val mean = (col("num_sum").cast("double") / col("num_count"))
    val base = tier.select(
      col("producer"), col("topic"), col("bucket"),
      start.as("start_ns"), (start + col("width_ns")).as("end_ns"),
      col("msg_count"), col("num_count"),
      col("num_min"), col("num_max"),
      col("num_sum").cast("double").as("num_sum_d"),
      mean.as("num_mean"))
    val out =
      if (quantiles.isEmpty) base
      else withQuantiles(base,
        Some(serveQuantileRows(sketchRowsOfTier(tier), quantiles)
          .drop("width_ns")),
        Seq("producer", "topic", "bucket"), quantiles,
        byFieldType = false)
    out.select((base.columns.filterNot(_ == "bucket").map(col) ++
      quantiles.map(p => col(s"p${(p * 100).toInt}"))): _*)
  }

  /** A map-face sketch column in (kb, c) row form — the adapter that
    * lets stored map partials ride the codegen'd columnar serving
    * path. explode of a map is pure codegen; empty sketches emit no
    * rows and serve as NaN quantiles downstream. */
  def sketchRowsOfTier(tier: DataFrame,
      sketchCol: String = "sketch"): DataFrame =
    tier.select(col("producer"), col("topic"), col("bucket"),
        col("width_ns"), explode(col(sketchCol)))
      .toDF("producer", "topic", "bucket", "width_ns", "kb", "c")

  /** [[rollup]] minus the sketch column: every aggregate is a
    * primitive builtin, so the whole merge runs in codegen'd
    * HashAggregate — the serving path pairs this with
    * [[rollupSketchRows]] over [[sketchRowsOfTier]] instead of
    * merging map sketches through the typed aggregator. */
  def rollupStats(tier: DataFrame, factor: Long,
      keys: Seq[String] = Seq("producer", "topic")): DataFrame =
    tier.drop("sketch")
      .groupBy((keys.map(col) :+
        expr(s"bucket div ${factor}L").as("bucket")): _*)
      .agg(
        sum(col("msg_count")).as("msg_count"),
        sum(col("num_count")).as("num_count"),
        min(col("num_min")).as("num_min"),
        max(col("num_max")).as("num_max"),
        sum(col("num_sum")).as("num_sum"),
        min(col("min_time")).as("min_time"),
        max(col("max_time")).as("max_time"),
        first(col("width_ns")).as("_w0"))
      .withColumn("width_ns", col("_w0") * lit(factor))
      .drop("_w0")

  /** /statrange straight from append-only base-tier partials, all
    * codegen (round 13 — the serving surface the reference runs
    * "mostly from RAM"): the non-sketch stats roll up via primitive
    * HashAggregate ([[rollupStats]]), quantiles via the exploded
    * (kb, c) row face ([[sketchRowsOfTier]] → [[rollupSketchRows]] →
    * [[serveQuantileRows]]), and the two branches join on the bin
    * key. No ObjectHashAggregate, no interpreted UDF anywhere in the
    * plan; both branches scan the kilobyte-scale partials table, so
    * the double read costs nothing while keeping every stage in
    * whole-stage codegen. Value-identical to
    * [[tierFromPartials]] + [[serve]] (associativity on the stats,
    * the window-cumsum ≡ the map walk on quantiles), and to the driver
    * fold [[StatRollup.serve]], which answers an ingest store's stat
    * requests within its driver budget — this plan is the face above
    * the budget and for partials that are not a store's. */
  def serveFromPartials(partials: DataFrame, widthNs: Long,
      quantiles: Seq[Double] = DefaultQuantiles,
      keys: Seq[String] = Seq("producer", "topic")): DataFrame = {
    require(widthNs % BaseWidthNs == 0,
      s"tier width must be a multiple of $BaseWidthNs")
    val factor = widthNs / BaseWidthNs
    val stats = rollupStats(partials, factor, keys)
    val start = col("bucket") * col("width_ns")
    val base = stats.select((keys.map(col) ++ Seq(col("bucket"),
      start.as("start_ns"), (start + col("width_ns")).as("end_ns"),
      col("msg_count"), col("num_count"),
      col("num_min"), col("num_max"),
      col("num_sum").cast("double").as("num_sum_d"),
      (col("num_sum").cast("double") / col("num_count"))
        .as("num_mean"))): _*)
    val out =
      if (quantiles.isEmpty) base
      else withQuantiles(base,
        Some(serveQuantileRows(
            rollupSketchRows(sketchRowsOfTier(partials), factor, keys),
            quantiles, keys)
          .drop("width_ns")),
        keys :+ "bucket", quantiles, byFieldType = false)
    out.select((base.columns.filterNot(_ == "bucket").map(col) ++
      quantiles.map(p => col(s"p${(p * 100).toInt}"))): _*)
  }

  /** /statrange straight from raw messages in ONE scan and ONE
    * exchange, all codegen — the no-store fallback face of
    * [[serveFromPartials]]: the scan pre-partitions on the bin key,
    * a HashAggregate at (bin, kb) reduces rows to sketch-bucket
    * partials that CARRY the non-sketch stats, a window cumsum (sort
    * only — the partitioning is already bin-keyed) ranks the
    * buckets, and one final bin-level HashAggregate folds stats and
    * quantiles together. Same output schema and values as
    * [[tierAt]] + [[serve]]. Rows with non-finite values land in the
    * null sketch bucket (num_count 0, ordered first), so they count
    * toward msg_count but can never win a quantile. */
  def serveFromMessages(messages: DataFrame, widthNs: Long,
      quantiles: Seq[Double] = DefaultQuantiles,
      valueCol: String = "value",
      keys: Seq[String] = Seq("producer", "topic")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol)
    val finite = !isnan(v) && !v.isin(Double.PositiveInfinity,
      Double.NegativeInfinity)
    val binKeys = keys.map(col) :+ col("bucket")
    val pre = messages
      .select((binKeys.dropRight(1) ++ Seq(
        expr(s"time div ${widthNs}L").as("bucket"),
        sketchKey(v).as("kb"), when(finite, v).as("_fv"))): _*)
      .repartition(binKeys: _*)
      .groupBy((binKeys :+ col("kb")): _*)
      .agg(count(lit(1)).as("msg_count"),
        count(col("_fv")).as("num_count"),
        min(col("_fv")).as("num_min"),
        max(col("_fv")).as("num_max"),
        sum(col("_fv").cast(Dec)).as("num_sum"))
    val part = Window.partitionBy(binKeys: _*)
    val withCum = pre
      .withColumn("_cum", sum(col("num_count"))
        .over(part.orderBy(col("kb").asc_nulls_first)))
      .withColumn("_total", sum(col("num_count")).over(part))
    val qAggs = quantiles.map { p =>
      val rank = greatest(lit(0L),
        ceil(lit(p) * (col("_total") - 1)).cast("long"))
      min(when(col("_cum") > rank, col("kb")))
        .as(s"_k${(p * 100).toInt}")
    }
    val aggs = Seq(
      sum(col("msg_count")).as("msg_count"),
      sum(col("num_count")).as("num_count"),
      min(col("num_min")).as("num_min"),
      max(col("num_max")).as("num_max"),
      sum(col("num_sum")).as("num_sum")) ++ qAggs
    val binned = withCum
      .groupBy(binKeys: _*)
      .agg(aggs.head, aggs.tail: _*)
    val start = col("bucket") * lit(widthNs)
    val base = binned.select(keys.map(col) ++ Seq(
      start.as("start_ns"), (start + lit(widthNs)).as("end_ns"),
      col("msg_count"), col("num_count"),
      col("num_min"), col("num_max"),
      col("num_sum").cast("double").as("num_sum_d"),
      (col("num_sum").cast("double") / col("num_count"))
        .as("num_mean")) ++
      quantiles.map(p => col(s"_k${(p * 100).toInt}")): _*)
    quantiles.foldLeft(base) { (df, p) =>
      val n = (p * 100).toInt
      df.withColumn(s"p$n",
          coalesce(sketchKeyValue(col(s"_k$n")), lit(Double.NaN)))
        .drop(s"_k$n")
    }
  }

  // --- columnar sketch serving ------------------------------------------
  // The map-column sketch path above (SketchAgg/MergeAgg + the serve
  // UDF) pays ObjectHashAggregate + kryo encoder traffic per group at
  // BUILD time and an interpreted quantile walk per bin at SERVE time
  // — fine when the sketch rides along a wide tier row, but the
  // flagship quantile-serving query was the most expensive dp3-core
  // entry (2.5 s at sf0.1). The row form below keeps the ENTIRE
  // pipeline in codegen'd primitive aggregation: a sketch is (kb, c)
  // ROWS, built by one HashAggregate, merged by sum, and quantiles
  // fall out of a window cumulative sum — no typed aggregator, no
  // kryo, no interpreted UDF anywhere. (This differs from the
  // round-11 bin-count A/B rejected at the NOTE above: that shape
  // lost because the wide tier needed a join to re-attach the other
  // stats; a quantile-only serving plan has nothing to join.)

  /** [[DDSketch.bucketOf]] as a builtin-function column —
    * bit-identical: Spark's `log` is `StrictMath.log`, as is
    * bucketOf's, and both divide by [[DDSketch.LogGamma]].
    * NaN/Inf/null → null, so a `where(isNotNull)` drops skipped samples
    * exactly like the typed aggregator does. */
  def sketchKey(v: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val a = abs(v)
    val k = ceil(log(a) / lit(DDSketch.LogGamma)).cast("int")
    when(isnan(v) || a === Double.PositiveInfinity,
        lit(null).cast("int"))
      .when(a < lit(DDSketch.MinValue), lit(0))
      .otherwise(when(v > 0, k + lit(1073741824))
        .otherwise(-(k + lit(1073741824))))
  }

  /** [[DDSketch.bucketValue]] as a builtin-function column —
    * bit-identical: Spark's `pow` is `StrictMath.pow`, as is
    * bucketValue's. */
  def sketchKeyValue(kq: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val g = DDSketch.Gamma
    val mag = lit(2.0) *
      pow(lit(g), (abs(kq) - lit(1073741824)).cast("double")) /
      lit(g + 1)
    when(kq === 0, lit(0.0))
      .otherwise(when(kq > 0, mag).otherwise(-mag))
  }

  /** Tier 0 in row form: (producer, topic, bucket, kb, c) — the same
    * DDSketch, one codegen'd HashAggregate instead of an object
    * aggregate. Mergeable by `sum(c)` at any granularity. */
  def sketchRows(messages: DataFrame, widthNs: Long,
      valueCol: String = "value"): DataFrame =
    messages
      .select(col("producer"), col("topic"),
        expr(s"time div ${widthNs}L").as("bucket"),
        sketchKey(col(valueCol)).as("kb"))
      .where(col("kb").isNotNull)
      .groupBy(col("producer"), col("topic"), col("bucket"), col("kb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("width_ns", lit(widthNs))

  /** Merge `factor` adjacent buckets of a row-form sketch tier — the
    * map-union is just a sum over (group, kb). The input is
    * repartitioned on the COARSE keys only (p, t, bucket div F): that
    * one exchange satisfies both this aggregate's clustering (subset
    * of its keys, carrying already-reduced tier rows — same shuffle
    * volume as letting the groupBy hash on all four keys) and the
    * downstream [[serveQuantileRows]] window partition, which
    * HashAggregate's alias-aware output partitioning propagates — so
    * serving quantiles off a rollup costs no further exchange. */
  def rollupSketchRows(rows: DataFrame, factor: Long,
      keys: Seq[String] = Seq("producer", "topic")): DataFrame =
    rows
      .repartition((keys.map(col) :+
        expr(s"bucket div ${factor}L")): _*)
      .groupBy((keys.map(col) :+
        expr(s"bucket div ${factor}L").as("bucket") :+ col("kb")): _*)
      .agg(sum(col("c")).as("c"), first(col("width_ns")).as("_w0"))
      .withColumn("width_ns", col("_w0") * lit(factor))
      .drop("_w0")

  /** Quantiles from a row-form sketch tier, all builtins: a window
    * cumulative sum per (producer, topic, bucket) ordered by kb (key
    * order IS value order), then one grouped aggregate takes every
    * requested quantile at once — `min(kb) where cum > rank`, the
    * same walk [[DDSketch.quantile]] does, vectorized across bins.
    * The window's partition keys are a prefix of the groupBy's, so
    * the final aggregate reuses the window's partitioning (one
    * exchange of reduced rows total, after the build's own). */
  def serveQuantileRows(rows: DataFrame,
      quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.95, 0.99),
      keys: Seq[String] = Seq("producer", "topic")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val partKeys = (keys.map(col) :+ col("bucket"))
    val part = Window.partitionBy(partKeys: _*)
    val withCum = rows
      .withColumn("_cum", sum(col("c")).over(part.orderBy(col("kb"))))
      .withColumn("_total", sum(col("c")).over(part))
    val aggs = quantiles.map { p =>
      val rank = greatest(lit(0L),
        ceil(lit(p) * (col("_total") - 1)).cast("long"))
      min(when(col("_cum") > rank, col("kb")))
        .as(s"_k${(p * 100).toInt}")
    } :+ first(col("width_ns")).as("width_ns")
    val agged = withCum
      .groupBy(partKeys: _*)
      .agg(aggs.head, aggs.tail: _*)
    quantiles.foldLeft(agged) { (df, p) =>
      val n = (p * 100).toInt
      df.withColumn(s"p$n", sketchKeyValue(col(s"_k$n")))
        .drop(s"_k$n")
    }
  }

  /** Per-field /statrange straight from append-only per-field
    * partials, all codegen — the field analogue of
    * [[serveFromPartials]]: the non-sketch field columns roll up via
    * [[rollupFields]] over a sketch-free projection (dropping the
    * `__sketch` columns first removes the only typed aggregator from
    * the suffix-driven merge), quantiles via the per-field (kb, c)
    * row face, joined back per (bin, field). Value-identical to
    * [[rollupFields]] + [[serveFields]]. */
  def serveFieldsFromPartials(partials: DataFrame, widthNs: Long,
      numericFields: Seq[String], textFields: Seq[String],
      quantiles: Seq[Double] = Seq(0.5, 0.95)): DataFrame = {
    require(widthNs % BaseWidthNs == 0,
      s"tier width must be a multiple of $BaseWidthNs")
    val factor = widthNs / BaseWidthNs
    val sketchCols = partials.columns.filter(_.endsWith("__sketch"))
    val statsTier = rollupFields(partials.drop(sketchCols: _*), factor)
    val flat = serveFields(statsTier, numericFields, textFields,
      quantiles = Nil)
    if (quantiles.isEmpty) flat
    else {
      val qt =
        if (numericFields.isEmpty) None
        else Some(serveQuantileRows(
            rollupSketchRows(
              fieldSketchRowsOfTier(partials, numericFields), factor,
              keys = Seq("producer", "topic", "field")),
            quantiles, keys = Seq("producer", "topic", "field"))
          .withColumn("start_ns", col("bucket") * col("width_ns"))
          .drop("bucket", "width_ns"))
      withQuantiles(flat, qt,
        Seq("producer", "topic", "field", "start_ns"), quantiles,
        byFieldType = true)
    }
  }

  /** Merge append-only tier partials (e.g. one per streaming
    * micro-batch) into canonical per-bucket rows — associativity makes
    * append + merge-on-read equivalent to a rebuild. */
  def mergePartials(tier: DataFrame): DataFrame = rollup(tier, 1L)

  /** Serve a tier of `widthNs` straight from append-only base-tier
    * partials in ONE shuffle: the rollup merge is associative, so
    * combining per-batch partials and coarsening buckets is a single
    * groupBy — no mergePartials-then-rollup double shuffle. This is the
    * 100 TB serving path: the stats table is kilobytes per bucket, so a
    * year-wide request aggregates summary rows, never raw messages
    * (reference: server/tree/tree.go:214-258, doc/paper/dp3.tex:192-196). */
  def tierFromPartials(partials: DataFrame, widthNs: Long): DataFrame = {
    require(widthNs % BaseWidthNs == 0,
      s"tier width must be a multiple of $BaseWidthNs")
    rollup(partials, widthNs / BaseWidthNs)
  }

  /** Build the tier of exactly `widthNs` from raw messages: base tier
    * then ONE rollup with the exact factor (associativity makes a
    * single div-by-F merge identical to F₁·F₂·… chained rollups,
    * without the extra shuffles). */
  def tierAt(messages: DataFrame, widthNs: Long): DataFrame = {
    require(widthNs % BaseWidthNs == 0,
      s"tier width must be a multiple of $BaseWidthNs")
    val t0 = base(messages, BaseWidthNs)
    if (widthNs == BaseWidthNs) t0 else rollup(t0, widthNs / BaseWidthNs)
  }

  /** Reference tree geometry: 60 s leaves, branching factor 64
    * (reference: server/treemgr/treemgr.go:59-67) → tier widths
    * 60s · 64^k. */
  val BaseWidthNs: Long = 60L * 1000000000L
  val Branching: Long = 64L

  def tierWidths(levels: Int = 4): Seq[Long] =
    (0 until levels).map(k => BaseWidthNs * math.pow(Branching, k).toLong)

  /** Granularity contract: serve from the COARSEST tier at least as
    * fine as requested — "result may be finer than requested, never
    * coarser" (reference: server/tree/tree.go:209-213). Requests finer
    * than the base tier fail like the reference's leaf descent
    * ("sorry, too granular", tree.go:254). */
  def pickTierWidth(granularityNs: Long,
      widths: Seq[Long] = tierWidths()): Long = {
    val fit = widths.filter(_ <= granularityNs)
    if (fit.isEmpty) throw new IllegalArgumentException(
      s"sorry, too granular: $granularityNs ns < base tier " +
        s"${widths.min} ns")
    fit.max
  }

  /** /statistics/available — which (producer, topic, field, stat)
    * combinations exist (reference: server/treemgr/treemgr.go:569-653).
    */
  def available(messages: DataFrame, numericFields: Seq[String],
      textFields: Seq[String]): DataFrame = {
    val numericStats =
      Seq("min", "max", "mean", "sum", "count", "P50", "P90", "P99")
    val textStats = Seq("min", "max")
    val pairs =
      numericFields.flatMap(f => numericStats.map(s => (f, s))) ++
        textFields.flatMap(f => textStats.map(s => (f, s)))
    val s = messages.sparkSession
    val fieldStats = s.createDataFrame(pairs).toDF("field", "stat")
    messages.select("producer", "topic").distinct().crossJoin(fieldStats)
  }

  // --- distinct-count statistics (HLL sketches) -------------------------

  /** Tier 0 distinct-count partials for `field`: per (producer, topic,
    * bucket) an Apache DataSketches HLL sketch (Spark's builtin
    * `hll_sketch_agg` — codegen'd, mergeable) PLUS the exact in-bucket
    * distinct count. Distinct counts are not associative, so only the
    * sketch survives rollups/cross-bucket merges — the same
    * precompute-then-merge discipline as the reference's per-leaf
    * statistics (server/nodestore/statistics.go:305-313), extended to
    * a statistic dp3 itself lacks. The exact column serves exact
    * answers at base granularity and calibrates the sketch in specs. */
  def baseDistinct(messages: DataFrame, widthNs: Long, field: String,
      lgK: Int = 12): DataFrame =
    messages
      .groupBy(col("producer"), col("topic"),
        expr(s"time div ${widthNs}L").as("bucket"))
      .agg(
        hll_sketch_agg(col(field), lgK).as("hll"),
        count_distinct(col(field)).as("distinct_exact"))
      .withColumn("width_ns", lit(widthNs))

  /** Merge `factor` adjacent buckets of a distinct tier — sketch union
    * only (exact counts do not merge). Associative and exactly
    * mergeable, so append-only partials serve any granularity. */
  def rollupDistinct(tier: DataFrame, factor: Long): DataFrame =
    tier
      .groupBy(col("producer"), col("topic"),
        expr(s"bucket div ${factor}L").as("bucket"))
      .agg(hll_union_agg(col("hll")).as("hll"),
        first(col("width_ns")).as("_w0"))
      .withColumn("width_ns", col("_w0") * lit(factor))
      .drop("_w0")

  /** Serve distinct-count estimates from a (possibly rolled-up)
    * distinct tier as flat range records. */
  def serveDistinct(tier: DataFrame): DataFrame = {
    val start = col("bucket") * col("width_ns")
    tier.select(col("producer"), col("topic"),
      start.as("start_ns"), (start + col("width_ns")).as("end_ns"),
      hll_sketch_estimate(col("hll")).as("distinct_est"))
  }

  /** Cross-producer bin merge, optionally keeping producers separate —
    * the /statistics endpoint shape (treemgr.go:384-501). */
  def mergeBins(tier: DataFrame, groupByProducer: Boolean): DataFrame = {
    val keys =
      if (groupByProducer) Seq(col("producer"), col("topic"), col("bucket"))
      else Seq(col("topic"), col("bucket"))
    tier.groupBy(keys: _*)
      .agg(
        sum(col("msg_count")).as("msg_count"),
        sum(col("num_count")).as("num_count"),
        min(col("num_min")).as("num_min"),
        max(col("num_max")).as("num_max"),
        sum(col("num_sum")).as("num_sum"),
        sketchMerge(col("sketch")).as("sketch"),
        first(col("width_ns")).as("width_ns")
      )
  }
}
