package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StringType, StructField, StructType}

import graft.functions.{ResidualCodebook, VectorFunctions}

import graft.util.{DataFile, JobDesc, Maint, Manifest, ManifestLog}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scoring is a codegen-friendly fold over `zip_with` — no UDF in the
  * hot path. Floats are widened to double BEFORE any arithmetic so the
  * accumulation is a deterministic left-to-right IEEE double fold,
  * identical on every engine/partitioning (scores are rounded to 6
  * decimals before ranking for cross-engine rank stability).
  *
  * Norms are precomputed once per row, never per candidate pair — at
  * n rows and p pairs that's O(n·d) instead of O(p·d) norm work, a
  * ~3x saving even at sf0.1 and the difference between feasible and
  * not at 100 TB.
  *
  * Scale shapes:
  *  - bruteForceTopK: broadcast the (tiny) query vector+norm, score
  *    every row, top-k via TakeOrdered (no global sort shuffle). The
  *    right baseline up to ~10^9 rows per query batch.
  *  - ivfTopK: partition-pruned variant — score only rows in the
  *    query's coarse cell (here the `label` column as the quantizer
  *    cell; in production, k-means cell ids computed at ingest and
  *    used as a partition key so Catalyst prunes everything else).
  *  - cosineNearDupPairs: exact within-cell O(n²/cells) self-join.
  *
  * The three stored index families are ONE structure — a frozen
  * quantizer plus cell-partitioned rows — kept in ONE [[ManifestLog]]
  * store at `dir` (one engine and one storage path for every vector
  * index, as in AnalyticDB-V):
  *
  *   - `dir/_manifest/<v>`: the newest manifest IS the index. Its
  *     header freezes the family (`ivf`, `pq` or `ivfpq`), the
  *     residual flag, the row schema, the coarse quantizer (one
  *     `centroid` line per cell), the PQ codebook (geometry, schema and
  *     one line per (_i, _cell, _sub, _cmu) row) and one content
  *     fingerprint per committed append; it lists the live files with
  *     their bytes.
  *   - `dir/cells/cell=<c>/v=<v>/part-*.parquet`: the rows of coarse
  *     cell c that manifest version v wrote — raw vectors (IVF) or m
  *     codes per vector (PQ, IVF-PQ). Flat PQ is the one-cell case,
  *     `cell=0`. A serve's probe set maps to the listed files of the
  *     probed cells: unprobed cells are never opened (serve cost ∝
  *     probed cells, never corpus size — the vector analogue of dp3's
  *     tree descent).
  *
  * Every verb commits once. A write or retrain commits a quantizer
  * and its rows together, superseding the old index; an append is one
  * write plus one commit under the frozen quantizer, so it lands whole
  * or not at all, and replaying a committed append (same content
  * fingerprint) is a no-op; the three compactions are one fold. A
  * crash leaves the old index or the new one live, plus files the
  * next verb deletes. A serve resolves the manifest once (fingerprint-
  * cached: no Spark job) and reads the listed files with the header
  * schema — no schema-inference job, no side table, and no way to pair
  * one index's quantizer with another's rows. Readers only list and
  * read; writers are single-writer. A dir with no manifest fails every
  * face loudly, except a write into an empty or absent dir.
  */
object Similarity {

  /** dot(a, b): exact left-fold over doubles, via the codegen'd native
    * expression (graft.functions.DotProduct) — same index-order IEEE
    * accumulation as the `aggregate(zip_with(...))` composition, ~4x
    * faster because it stays inside whole-stage codegen. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotF(a, b)

  /** micro-unit-quantized integer dot — cross-engine exact; used
    * wherever a SIGN or equality is read off the product (SRP bits),
    * where a double fold's ~1e-15 non-associativity could flip the
    * decision between engines */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotQ(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 6)

  private def withNorm(emb: DataFrame, vecCol: String): DataFrame =
    emb.withColumn("_nrm", norm(col(vecCol)))

  /** Top-k rows by cosine similarity to the vector of `queryId`.
    * Ties broken by id for full determinism. */
  def bruteForceTopK(emb: DataFrame, queryId: Long, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val n = withNorm(emb, vecCol)
    val q = n.where(col(idCol) === queryId)
      .select(col(vecCol).as("_qvec"), col("_nrm").as("_qnrm"))
    n.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(dot(col(vecCol), col("_qvec")) / (col("_nrm") * col("_qnrm")),
          6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc).limit(k)
  }

  /** Maximal-marginal-relevance top-k (Carbonell & Goldstein, SIGIR
    * 1998): greedily pick the candidate maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — relevance traded
    * against redundancy, the diverse-retrieval / diverse-few-shot
    * selection verb (plain top-k hands back k near-copies whenever
    * the corpus has them).
    *
    * Everything the greedy loop COMPARES is an integer: rel/sim are
    * micro-unit quantized cosines — floor(1e6·dq(a,b) /
    * (√dq(a,a)·√dq(b,b))) with dq the order-free integer
    * [[dotQ]] — and the MMR objective is
    * λppm·rel_mu − (1e6−λppm)·maxSim_mu in 64-bit integers with ties
    * broken by id, so selection order is exact on any engine (the
    * repo-wide no-cross-engine-float rule; a 1e-15 double wobble
    * here would reorder ranks, not just perturb a score).
    *
    * Scale shape: the DISTRIBUTED work is one scored corpus pass
    * (query broadcast, codegen dot products, TakeOrdered — exactly
    * [[bruteForceTopK]]'s plan) that reduces to a `poolSize`
    * candidate pool; the pool is control-plane sized by definition
    * (MMR is quadratic in it), so its pairwise sims compute over a
    * LOCAL relation and the k-step greedy argmax runs driver-side
    * over ≤ poolSize² integers — same discipline as the IVF/PQ
    * codebooks. Returns (mmr_rank, vec_id, rel_mu, score_mu). */
  def mmrTopK(emb: DataFrame, queryId: Long, k: Int,
      poolSize: Int = 40, lambdaPpm: Long = 500000L,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(k >= 1 && poolSize >= k,
      s"need poolSize >= k >= 1: k=$k poolSize=$poolSize")
    require(lambdaPpm >= 0L && lambdaPpm <= 1000000L,
      s"lambdaPpm in [0, 1e6]: $lambdaPpm")
    // The greedy loop keys its integer maps by Long ids (getLong on
    // the pool rows); a non-long id would compile the plan and then
    // throw ClassCastException at collect time — fail at ENTRY with
    // the actual constraint instead.
    require(emb.schema(idCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"mmrTopK requires a LongType id column; '$idCol' is " +
        s"${emb.schema(idCol).dataType.simpleString} — cast it to " +
        "bigint first")
    val spark = emb.sparkSession
    val mu = 1000000L
    def cosMu(d: Column, na: Column, nb: Column): Column =
      floor((lit(1000000.0) * d.cast("double")) /
        (sqrt(na.cast("double")) * sqrt(nb.cast("double")))).cast("long")
    val q = emb.where(col(idCol) === queryId)
      .select(col(vecCol).as("_qvec"))
      .withColumn("_qq", dotQ(col("_qvec"), col("_qvec")))
    val pool = emb.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("_vv", dotQ(col(vecCol), col(vecCol)))
      .where(col("_vv") > 0 && col("_qq") > 0)
      .select(col(idCol), col(vecCol),
        cosMu(dotQ(col(vecCol), col("_qvec")), col("_vv"), col("_qq"))
          .as("rel_mu"))
      .orderBy(col("rel_mu").desc, col(idCol).asc)
      .limit(poolSize)
      .collect()
    // pairwise sims over the pool — a local relation (poolSize rows),
    // so this job never re-reads the corpus
    val vecT = emb.schema(vecCol).dataType
    val poolSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_id",
        emb.schema(idCol).dataType),
      org.apache.spark.sql.types.StructField("_v", vecT)))
    val poolDf = spark.createDataFrame(
      java.util.Arrays.asList(
        pool.map(r => Row(r.get(0), r.get(1))): _*), poolSchema)
      .withColumn("_nn", dotQ(col("_v"), col("_v")))
    val sims = poolDf.as("a")
      .join(poolDf.as("b"), col("a._id") =!= col("b._id"))
      .select(col("a._id").as("ia"), col("b._id").as("ib"),
        cosMu(dotQ(col("a._v"), col("b._v")), col("a._nn"), col("b._nn"))
          .as("sim_mu"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // greedy integer argmax: λppm·rel − (1e6−λppm)·maxSim, ties by id
    val relOf = pool.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val remaining = scala.collection.mutable.TreeSet(relOf.keys.toSeq: _*)
    val selected = scala.collection.mutable.ArrayBuffer.empty[
      (Int, Long, Long, Long)]
    while (selected.size < k && remaining.nonEmpty) {
      val best = remaining.map { c =>
        val maxSim =
          if (selected.isEmpty) 0L
          else selected.map(s => sims((c, s._2))).max
        val score = lambdaPpm * relOf(c) - (mu - lambdaPpm) * maxSim
        (c, score)
      }.minBy { case (c, score) => (-score, c) }
      selected += ((selected.size, best._1, relOf(best._1), best._2))
      remaining -= best._1
    }
    import spark.implicits._
    selected.toSeq.toDF("mmr_rank", "vec_id", "rel_mu", "score_mu")
      .withColumnRenamed("vec_id", idCol)
  }

  /** Batch top-k: nearest k rows for EVERY query id in one pass — the
    * pipeline shape (dedup against a reference set, retrieval eval)
    * where per-query jobs would pay the scan once per query instead of
    * once total. The query set (ids + vectors + norms) broadcasts like
    * the single-query path; scoring stays codegen'd; the only shuffle
    * moves (query_id, id, score) triples — never embeddings — and the
    * per-query rank is a window over that narrow frame. Brute force
    * scores n·|Q| candidates by design; for large query sets prune
    * candidates first (IVF cells / LSH buckets), then rank the same
    * way. */
  def bruteForceTopKBatch(emb: DataFrame, queryIds: Seq[Long], k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(queryIds.nonEmpty, "queryIds must be non-empty")
    val n = withNorm(emb, vecCol)
    val q = n.where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("_qvec"),
        col("_nrm").as("_qnrm"))
    val scored = n.crossJoin(broadcast(q))
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        round(dot(col(vecCol), col("_qvec"))
          / (col("_nrm") * col("_qnrm")), 6).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
    scored.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k).drop("_rn")
  }

  /** Batch IVF top-k: nearest k per query, scoring ONLY rows sharing
    * each query's coarse cell — the production retrieval shape (batch
    * amortizes the scan, cell pruning bounds the candidates). The
    * query set broadcasts; the cell equality is an equi-join key, so
    * the plan is a BroadcastHashJoin (not a nested-loop filter) and
    * each data row is probed against the per-cell query bucket only.
    * Ranking is a window over (query_id, id, score) triples —
    * embeddings never shuffle. */
  def ivfTopKBatch(emb: DataFrame, queryIds: Seq[Long], k: Int,
      cellCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(queryIds.nonEmpty, "queryIds must be non-empty")
    val n = withNorm(emb, vecCol)
    val q = n.where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("_qvec"),
        col("_nrm").as("_qnrm"), col(cellCol).as("_qcell"))
    val scored = n
      .join(broadcast(q), col(cellCol) === col("_qcell")
        && col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol), col(cellCol),
        round(dot(col(vecCol), col("_qvec"))
          / (col("_nrm") * col("_qnrm")), 6).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
    scored.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k).drop("_rn")
  }

  /** Multi-probe batch IVF: rank rows from each query's `nprobe`
    * NEAREST cells by centroid score, not only its own cell — the
    * standard IVF recall knob (own-cell probing misses true neighbors
    * across cell boundaries; nprobe = #cells degrades gracefully to
    * brute force). Centroids derive from the stamped assignments via
    * integer micro-unit means ([[cellCentroids]]) so probe choice is
    * engine-reproducible; probe scores round to 6 dp BEFORE ranking
    * (the cross-engine float rule), ties to the lower cell id.
    *
    * 100 TB shape: centroids (cells x d) and the probe set
    * (|Q| x nprobe, queries riding along) are kilobytes — both
    * broadcast. The data side stays ONE BroadcastHashJoin on the cell
    * key; a row probes only the queries whose probe set includes its
    * cell; embeddings never shuffle; ranking is a window over narrow
    * (query_id, id, score) triples. A row meets each query at most
    * once (one cell per row, distinct probe cells per query), so no
    * dedup stage is needed. */
  def ivfTopKProbedBatch(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nprobe: Int, cellCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(queryIds.nonEmpty, "queryIds must be non-empty")
    require(nprobe >= 1, "nprobe >= 1")
    val n = withNorm(emb, vecCol)
    // per-cell centroid vectors from exact micro-unit means — the same
    // derivation the oracle replicates in s_centroids
    val cvecs = cellCentroids(emb, cellCol, vecCol)
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mean_mu")))),
        s => s.getField("mean_mu").cast("double") / lit(1000000.0))
        .as("_cvec"))
    val q = n.where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("_qvec"),
        col("_nrm").as("_qnrm"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("_ps").desc, col("cell").asc)
    val probeSet = q.crossJoin(broadcast(cvecs))
      .withColumn("_ps", round(dot(col("_qvec"), col("_cvec")), 6))
      .withColumn("_rn", row_number().over(wp))
      .where(col("_rn") <= nprobe)
      .select(col("query_id"), col("_qvec"), col("_qnrm"),
        col("cell").as("_qcell"))
    val scored = n
      .join(broadcast(probeSet), col(cellCol) === col("_qcell")
        && col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol), col(cellCol),
        round(dot(col(vecCol), col("_qvec"))
          / (col("_nrm") * col("_qnrm")), 6).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
    scored.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k).drop("_rn")
  }

  /** IVF-shaped top-k: only rows sharing the query row's coarse cell
    * (`cellCol`) are scored. */
  def ivfTopK(emb: DataFrame, queryId: Long, k: Int,
      cellCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val n = withNorm(emb, vecCol)
    val q = n.where(col(idCol) === queryId)
      .select(col(vecCol).as("_qvec"), col("_nrm").as("_qnrm"),
        col(cellCol).as("_qcell"))
    n.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .where(col(cellCol) === col("_qcell"))
      .select(col(idCol), col(cellCol),
        round(dot(col(vecCol), col("_qvec")) / (col("_nrm") * col("_qnrm")),
          6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc).limit(k)
  }

  // --- the stored vector index: IVF, PQ and IVF-PQ -----------------------

  private val Cells = "cells"

  /** A PQ codebook as the header stores it: geometry (dims, m), the
    * codebook frame's schema, and its rows as fields. */
  private final case class Codebook(dims: Int, m: Int, schema: StructType,
      rows: Seq[Seq[String]]) {
    /** The codebook frame the encoders take, in its stored column
      * types — a local relation, so using it launches no job. */
    def frame(spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows.map(Row(_: _*)): _*),
          StructType(schema.fields.map(_.copy(dataType = StringType))))
        .select(schema.fields.map(f => col(f.name).cast(f.dataType)
          .as(f.name)).toIndexedSeq: _*)

    def local(spark: SparkSession): Array[(Int, Long, Int, Long)] =
      cbTuples(frame(spark))
  }

  private object Codebook {
    /** From a codebook frame that is already a local relation. A field
      * holding a tab or a newline would corrupt its header line, so such
      * a label cell is refused. */
    def apply(frame: DataFrame, dims: Int, m: Int): Codebook =
      Codebook(dims, m, frame.schema, frame.collect().toSeq.map(_.toSeq.map {
        v =>
          val s = String.valueOf(v)
          require(v != null && !s.exists(c => c == '\t' || c == '\n'),
            s"a codebook cell must be non-null and hold no tab or newline: $s")
          s
      }))
  }

  /** collected (_i, _cell, _sub, _cmu) codebook rows, normalized to
    * integers (cell and sub types follow the build frame's label type) */
  private def cbTuples(cb: DataFrame): Array[(Int, Long, Int, Long)] =
    cb.select(col("_i").cast("int"), col("_cell").cast("long"),
        col("_sub").cast("int"), col("_cmu").cast("long"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2),
        r.getLong(3)))

  /** A stored index's header: its family, quantizer, row schema and
    * the fingerprints of its committed appends. */
  private final case class VecIndex(family: String, residual: Boolean,
      schema: StructType, cents: Seq[Seq[Double]],
      codebook: Option[Codebook], batches: Seq[String]) {
    def header: Seq[Seq[String]] =
      Seq(Seq("family", family), Seq("residual", residual.toString),
        Seq("schema", schema.json)) ++
        cents.map("centroid" +: _.map(_.toString)) ++
        codebook.toSeq.flatMap { cb =>
          Seq(Seq("geometry", cb.dims.toString, cb.m.toString),
            Seq("codebook-schema", cb.schema.json)) ++
            cb.rows.map("codebook" +: _)
        } ++ batches.map(b => Seq("batch", b))

    def cb: Codebook = codebook.getOrElse(throw new IllegalStateException(
      s"a $family index has no codebook"))
  }

  private object VecIndex {
    def apply(m: Manifest): VecIndex = {
      def all(tag: String) = m.header.filter(_.head == tag).map(_.tail)
      VecIndex(m.line("family").head, m.line("residual").head.toBoolean,
        m.schema("schema"), all("centroid").map(_.map(_.toDouble)),
        all("geometry").headOption.map(g => Codebook(g(0).toInt, g(1).toInt,
          m.schema("codebook-schema"), all("codebook"))),
        all("batch").map(_.head))
    }
  }

  private def store(spark: SparkSession, dir: String): ManifestLog =
    new ManifestLog(new Path(dir), spark.sparkContext.hadoopConfiguration,
      Map(Cells -> Seq("cell")), kind = "index")

  /** Manifest `m` parsed, for `face`, which takes `families`. */
  private def checked(face: String, families: Set[String],
      m: Manifest): (Manifest, VecIndex) = {
    val idx = VecIndex(m)
    require(families(idx.family),
      s"$face: a ${idx.family} index, not ${families.mkString("/")}")
    (m, idx)
  }

  /** The committed index at `dir`, for read face `face`, which takes
    * `families`; a fresh or pre-manifest dir fails loudly. */
  private def committed(spark: SparkSession, dir: String, face: String,
      families: Set[String]): (Manifest, VecIndex) =
    checked(face, families, store(spark, dir).committed(face))

  /** `files` of the index, read with the header's row schema under the
    * cells tree's basePath (`cell` comes from the path): no
    * schema-inference job and no listing beyond the files named. */
  private def rowsOf(spark: SparkSession, dir: String, idx: VecIndex,
      files: Seq[DataFile]): DataFrame =
    store(spark, dir).read(spark, Cells, idx.schema, files)

  /** The listed rows of the cells in `cells`. */
  private def cellRows(spark: SparkSession, dir: String, m: Manifest,
      idx: VecIndex, cells: Set[Int]): DataFrame =
    rowsOf(spark, dir, idx,
      m.filesOf(Cells).filter(f => cells(f.part("cell").toInt)))

  /** THE write and retrain path: `build` gets the manifest `dir` holds
    * (a retrain requires an index of one of `families`; a write, with
    * none, refuses only a pre-manifest dir) and hands the new header
    * and rows to its continuation, which writes them as the next
    * version in one commit that supersedes every file of the old
    * index. `build`'s eager jobs (training collects, pins) run as
    * `vec:<verb>:train`, the row write as `vec:<verb>:rows`. */
  private def rebuild(spark: SparkSession, dir: String, verb: String,
      families: Set[String])(
      build: (Option[Manifest], (VecIndex, DataFrame) => Unit) => Unit)
      : Unit = {
    val sc = spark.sparkContext
    val log = store(spark, dir)
    val prev =
      if (families.isEmpty) log.open(verb)
      else Some(checked(verb, families, log.openCommitted(verb))._1)
    JobDesc(sc, s"vec:$verb:train") {
      build(prev, (idx, rows) => {
        val written = JobDesc(sc, s"vec:$verb:rows") {
          log.write(prev.fold(0L)(_.version) + 1, Cells, rows)
        }
        log.commit(verb, prev, idx.header, written)
      })
    }
  }

  /** THE append path: `encode` the batch under the index's frozen
    * quantizer, write its rows as the next version and commit them
    * beside the live files — one commit, so the batch is visible whole
    * or not at all. The batch's content fingerprint (an order-free XOR
    * of row hashes, plus the row count) joins the header, and a batch
    * whose fingerprint is already there is a replay of a committed
    * append: a no-op, so a re-run after any crash adds no duplicate.
    * The batch is cached for the whole verb (the fingerprint job
    * materializes it, `encode` reads it), so the fingerprint and the
    * written rows come from ONE evaluation of its lineage. */
  private def append(batch: DataFrame, dir: String, verb: String,
      family: String)(encode: (DataFrame, VecIndex) => DataFrame): Unit = {
    val spark = batch.sparkSession
    val sc = spark.sparkContext
    val log = store(spark, dir)
    val (prev, idx) = checked(verb, Set(family), log.openCommitted(verb))
    val b = batch.persist()
    try {
      val fp = JobDesc(sc, s"vec:$verb:fingerprint") {
        val r = b.agg(expr("bit_xor(xxhash64(*))"), count(lit(1))).head()
        s"${if (r.isNullAt(0)) 0L else r.getLong(0)}:${r.getLong(1)}"
      }
      if (!idx.batches.contains(fp)) {
        val written = JobDesc(sc, s"vec:$verb:rows") {
          log.write(prev.version + 1, Cells, encode(b, idx))
        }
        log.commit(verb, Some(prev),
          idx.copy(batches = idx.batches :+ fp).header,
          prev.files ++ written)
      }
    } finally b.unpersist()
  }

  /** THE compaction: every listed row rewritten with duplicates on
    * `key` dropped, into files sized from the manifest's bytes
    * ([[Maint.sizedFileCount]]) and range-clustered by cell, in one
    * commit; the header carries over. Duplicates are full-row identical
    * by construction (encoding is a pure function of the frozen
    * quantizer and the vector), so any-copy dedup is exact — and they
    * matter: the ADC serve sums one lookup row per code row, so a
    * duplicated vector's score doubles. Appends never replay a
    * committed batch; duplicates come from overlapping batches. */
  private def fold(spark: SparkSession, dir: String, verb: String,
      family: String, key: Seq[String]): Unit = {
    val log = store(spark, dir)
    val (prev, idx) = checked(verb, Set(family), log.openCommitted(verb))
    val files = prev.filesOf(Cells)
    val nFiles = Maint.sizedFileCount(files.map(_.bytes).sum, 128L << 20)
    val written = JobDesc(spark.sparkContext, s"vec:$verb:rows") {
      log.write(prev.version + 1, Cells, rowsOf(spark, dir, idx, files)
        .dropDuplicates(key)
        .repartitionByRange(nFiles, ("cell" +: key).distinct.map(col): _*))
    }
    log.commit(verb, Some(prev), prev.header, written)
  }

  /** The live rows of the index at `dir` — every listed file, `cell`
    * from the path; None when it was never committed. Lists and reads
    * only. */
  private[graft] def indexRows(spark: SparkSession,
      dir: String): Option[DataFrame] =
    store(spark, dir).latest.map(m =>
      rowsOf(spark, dir, VecIndex(m), m.filesOf(Cells)))

  /** The stored codebook of a PQ or IVF-PQ index, in its stored column
    * types. */
  private[graft] def indexCodebook(spark: SparkSession,
      dir: String): DataFrame =
    committed(spark, dir, "indexCodebook", Set("pq", "ivfpq"))
      ._2.cb.frame(spark)

  /** Persist an IVF index: the coarse quantizer in the manifest header
    * and the corpus rows partitioned by cell (the stored-index layout
    * in the object doc). Training is [[trainIvfCentroids]] — no RNG, so rebuilding
    * the index reproduces it bit for bit. Writing over an index
    * supersedes it in one commit. */
  def writeIvfIndex(emb: DataFrame, dir: String, kCells: Int,
      iters: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    writeIvf(emb, dir, "writeIvfIndex", vecCol)(
      trainIvfCentroids(emb, kCells, iters, idCol, vecCol))

  /** [[writeIvfIndex]] with an explicit, already-trained quantizer —
    * the rebuild face incremental maintenance verifies against
    * (append ≡ rebuild holds for a FIXED quantizer; retraining
    * changes cells by design). */
  def writeIvfIndexWith(emb: DataFrame, cents: Seq[Seq[Double]],
      dir: String, vecCol: String = "embedding"): Unit =
    writeIvf(emb, dir, "writeIvfIndexWith", vecCol)(cents)

  private def writeIvf(emb: DataFrame, dir: String, verb: String,
      vecCol: String)(cents: => Seq[Seq[Double]]): Unit =
    rebuild(emb.sparkSession, dir, verb, Set.empty) { (_, commit) =>
      val c = cents
      // clustered by cell, as the fold writes: one file per cell, not
      // one per (input task, cell)
      val rows = assignCells(emb, c, vecCol).repartition(col("cell"))
      commit(VecIndex("ivf", residual = false, rows.schema, c, None, Nil),
        rows)
    }

  /** The stored coarse quantizer of an IVF or IVF-PQ index as centroid
    * vectors (cell-ordered), from the manifest header: a warm call runs
    * no Spark job. */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Seq[Double]] =
    committed(spark, dir, "readIvfCentroids", Set("ivf", "ivfpq"))._2.cents

  /** Incrementally add vectors to a stored IVF index: assign each new
    * vector with the STORED quantizer (deterministic — the same cell a
    * full rebuild would give) and append the rows to their cells in
    * one commit; replaying a committed append is a no-op. Serving is
    * unchanged in kind: each append adds files to the cells it
    * touches — run [[compactIvfVectors]] when the file count per cell
    * grows, and [[retrainIvfIndex]] when the data distribution drifts
    * enough that the frozen quantizer's cells go unbalanced. */
  def appendToIvfIndex(newEmb: DataFrame, dir: String,
      vecCol: String = "embedding"): Unit =
    append(newEmb, dir, "appendToIvfIndex", "ivf")((emb, idx) =>
      assignCells(emb, idx.cents, vecCol))

  /** Compact a [[writeIvfIndex]] index after many appends: one pass
    * over the listed rows, duplicates on (`idCol`, cell) dropped, into
    * sized files, in one commit (readers see the old files or the new,
    * never a mix or an absent index). */
  def compactIvfVectors(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String = "vec_id"): Unit =
    fold(spark, dir, "compactIvfVectors", "ivf", Seq(idCol, "cell"))

  /** Retrain a stored IVF index in place — the lifecycle step
    * [[appendToIvfIndex]]'s scaladoc defers to when the frozen
    * quantizer's cells go unbalanced under distribution drift. Reads
    * the live rows (duplicates on `idCol` dropped — an unhealed
    * duplicate would bias the centroid means), trains a fresh quantizer
    * with [[trainIvfCentroids]] (no RNG: retrain ≡ [[writeIvfIndex]]
    * over the same rows, bit for bit), and commits the new quantizer
    * and the reassigned rows together in one commit — a reader never
    * pairs the new quantizer with the old cells. */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, kCells: Int, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    rebuild(spark, dir, "retrainIvfIndex", Set("ivf")) { (prev, commit) =>
      val idx = VecIndex(prev.get)
      // pin the live rows: the k-means trainer takes one action for
      // the seed plus one per iteration and the rewrite is one more —
      // unpinned, EACH would re-run the scan + dedup shuffle (the
      // multi-consumer-subtree rule; iters+2 executions at default 5)
      val (live, pin) = Dedup.pinNow(
        rowsOf(spark, dir, idx, prev.get.filesOf(Cells))
          .dropDuplicates(idCol).drop("cell"))
      try {
        val cents = trainIvfCentroids(live, kCells, iters, idCol, vecCol)
        commit(idx.copy(cents = cents), assignCells(live, cents, vecCol))
      } finally pin.release()
    }

  /** Serve top-k from a [[writeIvfIndex]] index without the training
    * frame: the quantizer is control-plane (kCells x dims, in the
    * manifest header), so probe selection — the `nprobe` best cells by
    * unit-centroid dot, ties by cell id — happens driver-side, and the
    * data side is ONE scan of the probed cells' listed files (unprobed
    * cells are never opened). Takes an explicit query VECTOR (the
    * serving shape — queries usually aren't corpus rows); returns
    * (idCol, cell, cos_sim), ranked like [[ivfTopK]]. nprobe = kCells
    * degrades to brute force over the whole index. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queryVec: Seq[Float], k: Int, nprobe: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(k >= 1 && nprobe >= 1, s"k >= 1, nprobe >= 1")
    val (m, idx) = committed(spark, dir, "ivfTopKFromIndex", Set("ivf"))
    val q = queryVec.map(_.toDouble)
    val probed = probeCellsOf(idx.cents, q, nprobe)
    val qn = math.sqrt(dotL(q, q))
    // zero-norm guard on BOTH sides: 0/0 = NaN, and Spark sorts NaN
    // ABOVE every real number in a descending order — a zero vector
    // in the index (or a zero query) would displace a genuine top-k
    // hit with garbage (mmrTopK carries the same guard)
    require(qn > 0.0, "ivfTopKFromIndex: zero-norm query vector")
    cellRows(spark, dir, m, idx, probed.toSet)
      .where(dot(col(vecCol), col(vecCol)) > 0)
      .select(col(idCol), col("cell").cast("int").as("cell"),
        round(dot(col(vecCol), lit(q.toArray)) /
          (norm(col(vecCol)) * lit(qn)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc).limit(k)
  }

  /** Train an IVF coarse quantizer: Lloyd's k-means over the embedding
    * column, fully deterministic — init = the k lowest-id vectors, no
    * RNG — so the index is bit-reproducible run to run (the repo-wide
    * determinism rule). Centroids are unit-normalized, so nearest
    * centroid by dot product = nearest by cosine.
    *
    * Scale shape: the ASSIGNMENT step is shuffle-free — the centroid
    * set is a broadcast literal (k·d doubles, kilobytes) and the
    * argmax runs per row inside codegen via the native DotProduct.
    * The UPDATE step is one posexplode + groupBy of (cell, dim) per
    * iteration — n·d tiny rows, map-side combined. At 100 TB you train
    * on a sample (centroids are a driver-side Seq precisely so they
    * can be persisted and reused), then [[assignCells]] stamps the
    * full table once at ingest and the cell becomes a partition key
    * Catalyst prunes on (the production IVF layout the reference-free
    * design calls for). */
  def trainIvfCentroids(emb: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Seq[Seq[Double]] = {
    require(k >= 1 && iters >= 0, "k >= 1, iters >= 0")
    val asDouble = transform(col(vecCol), x => x.cast("double"))
    var cents: Seq[Seq[Double]] = emb.orderBy(col(idCol)).limit(k)
      .select(asDouble.as("v")).collect().map(_.getSeq[Double](0)).toSeq
    for (_ <- 0 until iters) {
      val assigned = emb.withColumn("_cell", cellOf(cents, vecCol))
      val updated = assigned
        .select(col("_cell"), posexplode(asDouble).as(Seq("_pos", "_x")))
        .groupBy(col("_cell"), col("_pos"))
        // exact decimal mean: double summation is not associative, and
        // partitioning-dependent centroids would break the repo's
        // bit-reproducibility rule
        .agg((sum(col("_x").cast(
            org.apache.spark.sql.types.DecimalType(30, 12)))
          / count(lit(1))).cast("double").as("_m"))
        .groupBy(col("_cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("_pos"), col("_m")))),
          s => s.getField("_m")).as("_c"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
      // empty cells keep their previous centroid (standard Lloyd's)
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i)))
    }
    cents
  }

  /** Argmax-cosine cell id for each row against a centroid literal —
    * pure codegen'd column expression, zero shuffle. Ties take the
    * lowest cell id (array_position returns the first match). */
  private def cellOf(cents: Seq[Seq[Double]], vecCol: String): Column = {
    val unit = cents.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c else c.map(_ / n)
    }
    val centArr = array(unit.map(c => lit(c.toArray)): _*)
    val scores = transform(centArr, c => dot(col(vecCol), c))
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  /** Stamp every row with its IVF cell (the ingest-time assignment
    * pass). The output's `cell` column plugs straight into [[ivfTopK]]
    * / [[cosineNearDupPairs]] as `cellCol`, and into
    * `write.partitionBy("cell")` for a pruned physical layout. */
  def assignCells(emb: DataFrame, cents: Seq[Seq[Double]],
      vecCol: String = "embedding"): DataFrame =
    emb.withColumn("cell", cellOf(cents, vecCol))

  /** Bound cell populations by SRP refinement: `cell` = the coarse
    * cell key plus the vector's first `bits` sign-random-projection
    * bits — each bit roughly halves a cell, so `bits` is the dial
    * that keeps within-cell pair work bounded as the corpus grows
    * (the round-11 sf1 probe measured cell-pruned semantic dedup
    * quadratic in cell size with FIXED cells; at 100 TB cell count
    * must scale with the data, and SRP refinement does that without
    * training). Pairs crossing a refinement boundary are missed —
    * the standard LSH recall trade, identical in kind to
    * [[srpCandidatePairs]] banding; raise `bits` for cost, lower for
    * recall. Deterministic (md5-parity planes), so an external
    * engine can reproduce the refined cells exactly. */
  def refineCells(emb: DataFrame, bits: Int, dims: Int,
      cellCol: String = "label", vecCol: String = "embedding",
      salt: String = "graft"): DataFrame = {
    // The SRP bit is the SIGN of the projection, and a sign read off
    // a cross-row double fold is not cross-engine stable (IEEE
    // non-associativity; the s_centroids lesson). Since round 12 the
    // bit comes from [[dotQ]] — per-element floor(x·1e6) BIGINT
    // products summed in an order-free integer accumulator — so any
    // engine that implements the same quantization derives the
    // identical cell, no 1e-15 window. LSH semantics are unaffected
    // (a micro-unit grid shifts only projections within 1e-6·dims of
    // zero, which land in an arbitrary-but-valid cell either way).
    require(bits >= 1, "bits >= 1")
    val bitCols = srpPlanes(bits, dims, salt).map { pl =>
      when(dotQ(col(vecCol), lit(pl.toArray)) >= 0, lit("1"))
        .otherwise(lit("0"))
    }
    emb.withColumn("cell",
      concat(col(cellCol).cast("string") +: lit("#") +: bitCols: _*))
  }

  /** Per-cell centroid report: for every (cell, dimension), the member
    * count, exact micro-unit component sum, and the mean component —
    * the distributed companion to [[trainIvfCentroids]] (which is
    * driver-side because quantizer centroids must broadcast): cluster
    * drift monitoring, IVF cell audits, per-class mean embeddings.
    *
    * Cross-engine exactness: doubles are quantized to integer
    * micro-units via `floor(x · 1e6)` BEFORE the cross-row sum.
    * Both engines compute the identical IEEE product and floor it —
    * no decimal-cast rounding-mode ambiguity (HALF_UP vs HALF_EVEN at
    * the cut digit), and the accumulated value is a plain BIGINT, so
    * the result hashes identically regardless of partitioning or
    * engine. The reported mean stays in integer micro-units via a
    * floor division — `round(sum/n, 6)` is NOT cross-engine-stable
    * (a measured tie at the 6th decimal split HALF_UP vs HALF_EVEN on
    * this very dataset); the human-facing double is derived FROM the
    * integer, so it carries no engine-dependent rounding.
    *
    * 100 TB shape: one posexplode to (cell, dim, mu) rows — n·d small
    * integers — and one map-side-combined aggregation; embeddings
    * never cross the shuffle. */
  def cellCentroids(emb: DataFrame, cellCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    emb.select(col(cellCol).as("cell"),
        posexplode(transform(col(vecCol), x =>
          floor(x.cast("double") * lit(1000000.0)))).as(Seq("pos", "mu")))
      .groupBy(col("cell"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("mu")).as("sum_mu"))
      .select(col("cell"), col("pos").cast("long").as("pos"), col("n"),
        col("sum_mu"),
        // floor of an identical IEEE quotient — exact on both engines
        // (sum_mu and n are exactly representable doubles)
        floor(col("sum_mu").cast("double") / col("n"))
          .cast("long").as("mean_mu"))
      .withColumn("mean", col("mean_mu").cast("double") / lit(1000000.0))

  /** Product-quantization ADC top-k — the memory-compression half of
    * IVF-PQ (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011): embeddings are stored as `m` small codes
    * (one per subvector), and a query scores candidates through a
    * per-query lookup table instead of touching raw vectors. At 100 TB
    * this is what makes the index FIT — d floats shrink to m codes per
    * vector, and the scan side of a query reads only (vec_id, codes).
    *
    * Codebooks here come from the same deterministic quantizer family
    * as the rest of this file: per (subspace, cell) sub-centroids are
    * the integer micro-unit means of the `cellCol` groups (the
    * training-free analogue of per-subspace k-means — swap in trained
    * cells by stamping `cellCol` with [[assignCells]] first). Every
    * stage stays in exact BIGINT micro-units (`floor(x·1e6)` before
    * any cross-row sum, floor-division means, integer squared
    * distances and dot products), so encoding, the lookup table, and
    * the ADC score hash identically on any engine or partitioning —
    * the [[cellCentroids]] discipline applied end to end.
    *
    * Scale shape: the codebook (m · cells · d/m micro-unit ints) and
    * the per-query lookup tables (|Q| · m · cells) are kilobytes and
    * BROADCAST; encoding is one N·d-row posexplode joined against the
    * broadcast codebook with a map-side-combined argmin (the standard
    * N·d·cells PQ encode cost); scoring joins the N·m code rows
    * against the broadcast table and aggregates — embeddings never
    * cross a shuffle, and nothing driver-side grows with N.
    *
    * Returns (query_id, vec_id, adc_mu2): the asymmetric-distance
    * inner-product score in µ² units (descending = most similar),
    * top-k per query, self excluded, ties to the lower vec_id. */
  def pqTopKBatch(emb: DataFrame, queryIds: Seq[Long], k: Int,
      dims: Int, m: Int = 4, cellCol: String = "label",
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(queryIds.nonEmpty, "empty query set")
    require(k >= 1, "k must be >= 1")
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val subDim = dims / m
    val rows = muRows(emb, dims, "pqTopKBatch", idCol, vecCol,
      Some(cellCol))
    // codebook: per (dim, cell) micro-unit mean component — the
    // sub-centroid of subspace (_i div subDim) restricted to dim _i.
    // MATERIALIZED driver-side: dims × cells rows (control-plane, the
    // same k·d scale as trainIvfCentroids' collect), consumed by TWO
    // broadcast builds (encode + LUT) that would otherwise each re-run
    // the full µ-row aggregation — the plan audit measured 4 passes
    // over the embedding µ-rows with zero exchange reuse.
    val codebook = pqCodebookLocal(rows, subDim)
    // encode: nearest sub-centroid per (vector, subspace) by integer
    // squared distance; min(struct) ties to the lower cell id
    val codes = pqCodesOf(rows, codebook)
    // per-query lookup table: inner product of the query subvector
    // with every sub-centroid, in µ² integers
    val lut = rows.where(col("_vid").isin(queryIds: _*))
      .join(broadcast(codebook), "_i")
      .groupBy(col("_vid").as("query_id"), col("_sub"), col("_cell"))
      .agg(sum(col("_mu") * col("_cmu")).as("_dot"))
    pqAdcServe(codes, lut, k)
  }

  /** The µ-component explode every PQ face shares — one definition,
    * so the quantization (floor(x·1e6)) and the per-row dims guard
    * ([[vecDimsChecked]]) can never diverge between the build, append,
    * and inline entry points (indexes written by different entry
    * points must stay mutually readable). */
  private def muRows(df: DataFrame, dims: Int, op: String,
      idCol: String, vecCol: String, cellCol: Option[String])
      : DataFrame = {
    val keys = Seq(col(idCol).as("_vid")) ++
      cellCol.map(c => col(c).as("_vcell"))
    df.select(keys :+ posexplode(transform(
        vecDimsChecked(vecCol, dims, op), x =>
          floor(x.cast("double") * lit(1000000.0)).cast("long")))
        .as(Seq("_i", "_mu")): _*)
  }

  /** per-(dim, cell) micro-unit mean components as a LOCAL relation —
    * the PQ codebook (see the materialization note in
    * [[pqTopKBatch]]) */
  private def pqCodebookLocal(rows: DataFrame, subDim: Int)
      : DataFrame = {
    val codebook0 = rows
      .groupBy(col("_i"), col("_vcell").as("_cell"))
      .agg(count(lit(1)).as("_n"), sum(col("_mu")).as("_s"))
      .select(col("_i"), col("_cell"), expr(s"_i div $subDim").as("_sub"),
        // floor of an identical IEEE quotient — exact on both engines
        floor(col("_s").cast("double") / col("_n")).cast("long")
          .as("_cmu"))
    rows.sparkSession.createDataFrame(
      java.util.Arrays.asList(codebook0.collect(): _*), codebook0.schema)
  }

  /** encode: nearest sub-centroid per (vector, subspace) by integer
    * squared distance; min(struct) ties to the lower cell id.
    * Deliberately the JOIN shape (it expands the per-dim rows by the
    * cell count before reducing): these label-cell faces accept an
    * ARBITRARY `cellCol` type — string domains included — which the
    * integral-id native argmin ([[codesOf]], the IVF-PQ faces'
    * map-only encode) cannot carry without narrowing the contract;
    * label-cell counts are small by construction, so the expansion is
    * bounded where the coarse-cell faces' was not. */
  private def pqCodesOf(rows: DataFrame, codebook: DataFrame)
      : DataFrame =
    rows.join(broadcast(codebook), "_i")
      .groupBy(col("_vid"), col("_sub"), col("_cell"))
      .agg(sum((col("_mu") - col("_cmu")) * (col("_mu") - col("_cmu")))
        .as("_d"))
      .groupBy(col("_vid"), col("_sub"))
      .agg(min(struct(col("_d"), col("_cell"))).as("_best"))
      .select(col("_vid"), col("_sub"), col("_best").getField("_cell")
        .as("_cell"))

  /** ADC scoring: code rows × broadcast LUT → per-(query, vector)
    * µ² inner-product sums → top-k per query */
  private def pqAdcServe(codes: DataFrame, lut: DataFrame, k: Int)
      : DataFrame = {
    val scored = codes
      .join(broadcast(lut), Seq("_sub", "_cell"))
      .where(col("_vid") =!= col("query_id"))
      .groupBy(col("query_id"), col("_vid"))
      .agg(sum(col("_dot")).as("adc_mu2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_mu2").desc, col("_vid").asc)
    scored.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .select(col("query_id"), col("_vid").as("vec_id"), col("adc_mu2"))
  }

  /** Persist a PQ index: the codebook ((_i, _cell, _sub, _cmu) rows,
    * dims × cells — control-plane) in the manifest header and m small
    * codes per vector, (_vid, _sub, _cell), as the rows of the one cell
    * `cell=0` — the COMPRESSED corpus a query scans instead of raw
    * embeddings (the memory-compression half of IVF-PQ made durable: at
    * 100 TB the d-float vectors stay cold; serving IO is m codes per
    * row). The same deterministic micro-unit pipeline as
    * [[pqTopKBatch]], so a rebuild is bit-reproducible; writing over an
    * index supersedes it in one commit. */
  def writePqIndex(emb: DataFrame, dir: String, dims: Int, m: Int = 4,
      cellCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    rebuild(emb.sparkSession, dir, "writePqIndex", Set.empty) {
      (_, commit) =>
        buildPq(emb, dims, m, cellCol, idCol, vecCol, "writePqIndex")(commit)
    }
  }

  /** A flat PQ index over `emb`: the label-cell codebook and the codes,
    * handed to `commit`. */
  private def buildPq(emb: DataFrame, dims: Int, m: Int, cellCol: String,
      idCol: String, vecCol: String, op: String)(
      commit: (VecIndex, DataFrame) => Unit): Unit = {
    val rows = muRows(emb, dims, op, idCol, vecCol, Some(cellCol))
    val codebook = pqCodebookLocal(rows, dims / m)
    val codes = pqEncode(emb, rows, codebook, m, dims / m, idCol, vecCol, op)
      .repartition(col("_vid"))
    commit(VecIndex("pq", residual = false, codes.schema, Nil,
      Some(Codebook(codebook, dims, m)), Nil), codes)
  }

  /** Plain-PQ encode dispatch: INTEGRAL cell domains run the native
    * map-only compiled argmin (the shape the r16 raw-IVF-PQ fix
    * measured at 13.9 → 10.4 s sf1 over the join-then-aggregate
    * encode, which expands the exploded per-dim corpus by the cell
    * count before reducing); generic (e.g. string) cell domains keep
    * [[pqCodesOf]]'s join face — the documented bounded trade-off,
    * the native argmin's id table being Long-keyed. Present-cell ids
    * ride ascending in the table, so the compiled first-minimum
    * equals the join face's min(struct) lower-cell-id tie — the two
    * faces emit bit-identical codes on integral domains (spec-pinned
    * via a numeric-string twin build). Output carries the codebook's
    * exact _sub/_cell types so appended part files always match the
    * build's (the append-layout rule). */
  private def pqEncode(emb: DataFrame, rows: DataFrame,
      codebook: DataFrame, m: Int, subDim: Int, idCol: String,
      vecCol: String, op: String): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, ShortType}
    codebook.schema("_cell").dataType match {
      case cellType @ (ByteType | ShortType | IntegerType
          | LongType) =>
        codesOf(residualSubRows(emb, Nil, m, subDim, idCol, vecCol, op,
            subtract = false),
          rawCodebookArrays(cbTuples(codebook), m), LongType, cellType)
      case _ => pqCodesOf(rows, codebook).withColumn("cell", lit(0))
    }
  }

  /** Incrementally add vectors to a stored PQ index: encode the new
    * vectors against the STORED codebook (the quantization is a pure
    * function of (codebook, vector), so append ≡ same-codebook rebuild)
    * and append their code rows in one commit; replaying a committed
    * append is a no-op. Retrain ([[retrainPqIndex]]) when distribution
    * drift degrades the codebook; fold overlapping batches' duplicate
    * codes with [[compactPqCodes]]. */
  def appendToPqIndex(newEmb: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    append(newEmb, dir, "appendToPqIndex", "pq") { (emb, idx) =>
      val cb = idx.cb
      // no cell column needed: encoding is a pure function of
      // (codebook, vector)
      val rows = muRows(emb, cb.dims, "appendToPqIndex", idCol, vecCol,
        None)
      pqEncode(emb, rows, cb.frame(emb.sparkSession), cb.m,
          cb.dims / cb.m, idCol, vecCol, "appendToPqIndex")
        .repartition(col("_vid"))
    }

  /** Compact a [[writePqIndex]] index: the plain-PQ face of the one
    * fold, duplicates on (_vid, _sub) dropped — [[pqAdcServe]] sums one
    * LUT row per CODE ROW, so a duplicated vector's ADC score doubles
    * and rankings shift silently. One commit. */
  def compactPqCodes(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    fold(spark, dir, "compactPqCodes", "pq", Seq("_vid", "_sub"))

  /** Retrain a plain [[writePqIndex]] index under distribution drift:
    * codebook AND codes rebuild from the provided embedding frame (the
    * index stores only lossy codes, so retraining needs the corpus),
    * with the geometry (dims, m) carried over from the STORED codebook
    * so a retrain can never silently change the code budget. The new
    * codebook and codes land in one commit that supersedes the old
    * index. Deterministic end to end: retrain ≡ a fresh
    * [[writePqIndex]] over the same rows, bit for bit (spec-pinned). */
  def retrainPqIndex(emb: DataFrame, dir: String,
      cellCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    rebuild(emb.sparkSession, dir, "retrainPqIndex", Set("pq")) {
      (prev, commit) =>
        val cb = VecIndex(prev.get).cb
        buildPq(emb, cb.dims, cb.m, cellCol, idCol, vecCol,
          "retrainPqIndex")(commit)
    }

  /** Serve ADC top-k from a [[writePqIndex]] index with EXPLICIT
    * query vectors — the serving shape: the per-query lookup tables
    * compute DRIVER-side from the header's codebook (|Q|·m·cells
    * integers, the same arithmetic as the distributed LUT: per
    * (sub, cell) the integer dot of the query's µ-components with
    * the sub-centroid's), broadcast, and score against ONE scan of
    * the listed code files. Raw embeddings are never read
    * (spec-gated) — identical results to [[pqTopKBatch]] over the
    * index's build frame for corpus queries (self excluded by id). An
    * IVF-PQ index serves here over all its cells. */
  def pqTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: Seq[(Long, Seq[Float])], k: Int)
      : DataFrame = {
    require(queries.nonEmpty, "empty query set")
    require(k >= 1, "k must be >= 1")
    val (m, idx) =
      committed(spark, dir, "pqTopKFromIndex", Set("pq", "ivfpq"))
    val lut = spark.createDataFrame(
      java.util.Arrays.asList(pqLutRows(idx.cb.local(spark), queries): _*),
      pqLutSchema)
    pqAdcServe(rowsOf(spark, dir, idx, m.filesOf(Cells)), lut, k)
  }

  private val pqLutSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("_sub", IntegerType, nullable = false),
    StructField("_cell", LongType, nullable = false),
    StructField("_dot", LongType, nullable = false)))

  /** driver-built per-query ADC lookup rows (query_id, _sub, _cell,
    * _dot) — the same arithmetic as the distributed LUT build. The
    * (sub, cell) grouping of the codebook is hoisted OUT of the
    * per-query loop: at production shape (768 dims × 256 cells ≈ 200k
    * rows) regrouping per query made a 100-query serve rebuild the
    * same hash grouping 100 times on the driver. */
  private def pqLutRows(cb: Array[(Int, Long, Int, Long)],
      queries: Seq[(Long, Seq[Float])]): Seq[Row] = {
    val dims = cb.map(_._1).max + 1
    val grouped = cb.groupBy(r => (r._3, r._2)).toSeq
    queries.flatMap { case (qid, vec) =>
      // a longer vector would silently truncate to the index dims, a
      // shorter one would throw a bare index error mid-fold — fail at
      // entry with the actual constraint (the mmrTopK discipline)
      require(vec.length == dims,
        s"pq serve: query $qid has ${vec.length} dims, index has $dims")
      val mu = vec.map(x =>
        math.floor(x.toDouble * 1000000.0).toLong).toArray
      grouped.map { case ((sub, cell), rs) =>
        Row(qid, sub, cell,
          rs.foldLeft(0L) { case (acc, (i, _, _, cmu)) =>
            acc + mu(i) * cmu })
      }
    }
  }

  /** driver-side probe selection shared by every persisted-index
    * serve: the `nprobe` best cells by unit-centroid dot, ties by
    * cell id (the [[ivfTopKFromIndex]] ranking) */
  private def probeCellsOf(cents: Seq[Seq[Double]], q: Seq[Double],
      nprobe: Int): Seq[Int] =
    cents.zipWithIndex.map { case (c, ci) =>
      val n = math.sqrt(dotL(c, c))
      val u = if (n == 0.0) c else c.map(_ / n)
      (ci, dotL(q, u))
    }.sortBy { case (ci, s) => (-s, ci) }.take(nprobe).map(_._1)

  private def dotL(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }

  /** The raw coarse-cell codebook as the native encoder's
    * [sub][k][pos] centroid arrays plus parallel PRESENT-cell id
    * lists (ascending — the encoder's first-minimum then equals the
    * lower-cell-id tie of [[pqCodesOf]]'s `min(struct)`). Replaces
    * the former join + two-aggregation encode, which expanded the
    * exploded per-dim corpus by the cell count before reducing —
    * the map-only argmin is the shape the residual face proved out
    * (sf1: raw build 13.9 s under the join vs 9.4 s residual
    * map-only on the same corpus). */
  private def rawCodebookArrays(cb: Array[(Int, Long, Int, Long)],
      m: Int): ResidualCodebook = {
    val bySub = cb.groupBy(_._3)
    val empty = Array.empty[(Int, Long, Int, Long)]
    val cbArr = (0 until m).map { s =>
      bySub.getOrElse(s, empty).groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (_, rs) => rs.sortBy(_._1).map(_._4) }.toArray
    }.toArray
    val idsArr = (0 until m).map { s =>
      bySub.getOrElse(s, empty).map(_._2).distinct.sorted
    }.toArray
    new ResidualCodebook(cbArr, idsArr)
  }

  /** The native-argmin encode of a subvector frame against `table`:
    * (cell, _vid, _sub, _cell), `_sub` and `_cell` cast to the layout's
    * on-disk types (appended files must match the build's column for
    * column). */
  private def codesOf(subRows: DataFrame, table: ResidualCodebook,
      subType: DataType, cellType: DataType): DataFrame =
    subRows
      .withColumn("_c",
        VectorFunctions.residualCodeWith(col("_sub"), col("_rv"), table))
      .select(col("_vcell").as("cell"), col("_vid"),
        col("_sub").cast(subType).as("_sub"),
        col("_c").cast(cellType).as("_cell"))

  /** An IVF-PQ subvector frame's codes under `codebook`, in the
    * layout's on-disk types: raw _sub BIGINT and _cell INT, residual
    * _sub INT and _cell BIGINT. */
  private def ivfPqCodesOf(subRows: DataFrame,
      codebook: Array[(Int, Long, Int, Long)], m: Int,
      residual: Boolean): DataFrame =
    codesOf(subRows, rawCodebookArrays(codebook, m),
      if (residual) IntegerType else LongType,
      if (residual) LongType else IntegerType)

  /** Persist the COMPOSED IVF-PQ index — IVFADC (Jégou et al.,
    * TPAMI 2011 §IV): the production serve shape at 100 TB, where
    * neither half suffices alone — a PQ-only index scans every
    * vector's codes (no pruning), an IVF-only index reads raw
    * d-float vectors in the probed cells (no compression). The header
    * holds the coarse quantizer (the [[writeIvfIndex]] format;
    * [[readIvfCentroids]] reads both) and the PQ codebook
    * (_i, _cell, _sub, _cmu); the rows are m codes per vector,
    * (_vid, _sub, _cell), partitioned by the coarse `cell`: a query's
    * probe set maps to the listed files of the compressed table, so
    * serve IO is (probed fraction) × (m codes per row) — pruning AND
    * compression compose.
    *
    * PQ sub-centroids group on the coarse cell (the training-free
    * codebook discipline of [[pqTopKBatch]] with `cellCol` = the
    * trained IVF assignment). Deterministic end to end — coarse
    * training has no RNG and the PQ pipeline is exact integer
    * micro-units — so a rebuild is bit-reproducible. */
  def writeIvfPqIndex(emb: DataFrame, dir: String, kCells: Int,
      dims: Int, m: Int = 4, iters: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding", residual: Boolean = false,
      kSub: Int = 16): Unit = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    require(kSub >= 1, s"kSub >= 1: $kSub")
    rebuild(emb.sparkSession, dir, "writeIvfPqIndex", Set.empty) {
      (_, commit) => buildIvfPq(emb, kCells, dims, m, iters, idCol, vecCol,
        residual, kSub, "writeIvfPqIndex")(commit)
    }
  }

  /** An IVF-PQ index over `emb`: the trained coarse quantizer, the
    * codebook and the codes, handed to `commit`. */
  private def buildIvfPq(emb: DataFrame, kCells: Int, dims: Int, m: Int,
      iters: Int, idCol: String, vecCol: String, residual: Boolean,
      kSub: Int, op: String)(commit: (VecIndex, DataFrame) => Unit): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val subDim = dims / m
    val cents = trainIvfCentroids(emb, kCells, iters, idCol, vecCol)
    def done(codebook: DataFrame, subRows: DataFrame): Unit = {
      // repartition WITHOUT a count: AQE merges small cells into shared
      // tasks (file-count control rule); partitionBy still lays each
      // cell in its own directory
      val codes = ivfPqCodesOf(subRows, cbTuples(codebook), m, residual)
        .repartition(col("cell"))
      commit(VecIndex("ivfpq", residual, codes.schema, cents,
        Some(Codebook(codebook, dims, m)), Nil), codes)
    }
    if (residual) {
      // IVFADC: per-subspace integer-L2 k-means over the µ-residuals,
      // codes = argmin against the trained codebook. The subvector
      // frame feeds init + iters + the final encode — pin it (the
      // multi-consumer-subtree rule; retrainIvfIndex's discipline)
      val (subRows, pin) = Dedup.pinNow(
        residualSubRows(emb, cents, m, subDim, idCol, vecCol, op))
      try {
        val cb = trainResidualCodebook(subRows, m, kSub, iters)
        // stored in the SHARED codebook schema (_i = sub·subDim + pos,
        // _cell = code id, _sub, _cmu) so the driver LUT builder
        // serves both encodings with the same integer arithmetic
        done(cb.zipWithIndex.flatMap { case (subCents, s) =>
            subCents.zipWithIndex.flatMap { case (c, j) =>
              c.zipWithIndex.map { case (mu, p) =>
                (s * subDim + p, j.toLong, s, mu) } } }
            .toDF("_i", "_cell", "_sub", "_cmu"), subRows)
      } finally pin.release()
    } else
      // raw µ encoding: the codebook trains from the per-dim frame
      // (one map-side-combined agg) and codes assign MAP-ONLY via the
      // same native argmin as the residual face
      done(pqCodebookLocal(muRows(assignCells(emb, cents, vecCol), dims,
          op, idCol, vecCol, Some("cell")), subDim),
        residualSubRows(emb, cents, m, subDim, idCol, vecCol, op,
          subtract = false))
  }

  /** Per-row vector-dims guard for the index BUILD/APPEND paths: a
    * wrong-length vector fails the job with the actual constraint
    * instead of silently encoding garbage — `zip_with` pads the
    * shorter side with nulls (null residuals → null codes) and the
    * `_i` equi-join just drops extra dims. The serve side's
    * `require(vec.length == dims)` discipline, applied per row in
    * codegen with no extra probe job. */
  private def vecDimsChecked(vecCol: String, dims: Int,
      op: String): Column =
    when(size(col(vecCol)) === dims, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"$op: vector has "), size(col(vecCol)).cast("string"),
        lit(s" dims, index has $dims"))))

  /** RESIDUAL encoding for the composed index — full IVFADC (Jégou et
    * al. 2011 §IV.A): PQ codes quantize the residual x − centroid(cell)
    * instead of x itself. Residuals concentrate each cell's
    * distribution around zero, so the same code budget lands far
    * smaller quantization error (spec-measured inequality on a
    * clustered corpus); the serve-side score adds the driver-computed
    * ⟨q, centroid(cell)⟩ term per probed cell:
    * ⟨q, x⟩ ≈ ⟨q, c⟩ + ⟨q, decode(codes)⟩.
    *
    * Everything stays in exact integer micro-units: residuals are
    * differences of floor(x·1e6) longs, the per-subspace codebook is
    * trained by a deterministic integer-L2 k-means (init = the kSub
    * lowest-id residual subvectors per subspace, exact floor-division
    * means, argmin ties to the lower code id — no RNG, bit-reproducible
    * rebuilds), and both ADC terms are BIGINT sums — the repo-wide
    * cross-engine discipline even though this index has no SQL face. */
  private def residualSubRows(emb: DataFrame, cents: Seq[Seq[Double]],
      m: Int, subDim: Int, idCol: String, vecCol: String,
      op: String, subtract: Boolean = true): DataFrame = {
    val muArr = transform(vecDimsChecked(vecCol, m * subDim, op), x =>
      floor(x.cast("double") * lit(1000000.0)).cast("long"))
    // subtract = false is the RAW face: the same (vid, vcell, sub,
    // subvector) frame over plain µ components, feeding the identical
    // native argmin — one builder so the quantization and dims guard
    // can never fork between encodings. No quantizer (`cents` empty,
    // the flat PQ face) puts every vector in cell 0.
    val resid =
      if (!subtract) muArr
      else {
        val centMuLit = array(cents.map(c =>
          lit(c.map(x => math.floor(x * 1000000.0).toLong).toArray)): _*)
        zip_with(muArr,
          element_at(centMuLit, col("cell") + 1), (a, b) => a - b)
      }
    val subCols = (0 until m).map(s =>
      struct(lit(s).as("_sub"),
        expr(s"slice(_r, ${s * subDim + 1}, $subDim)").as("_rv")))
    (if (cents.isEmpty) emb.withColumn("cell", lit(0))
      else assignCells(emb, cents, vecCol))
      .select(col(idCol).as("_vid"), col("cell").as("_vcell"),
        resid.as("_r"))
      .select(col("_vid"), col("_vcell"),
        explode(array(subCols: _*)).as("_sv"))
      .select(col("_vid"), col("_vcell"),
        col("_sv").getField("_sub").as("_sub"),
        col("_sv").getField("_rv").as("_rv"))
  }

  /** Deterministic integer-L2 k-means per subspace, all `m` subspaces
    * trained in one frame (the `_sub` column rides the group keys).
    * Exact floor-division means keep every centroid a bit-stable
    * Array[Long]; empty clusters keep their previous centroid
    * (standard Lloyd's, the [[trainIvfCentroids]] contract). */
  private def trainResidualCodebook(subRows: DataFrame, m: Int,
      kSub: Int, iters: Int): Seq[Seq[Array[Long]]] = {
    // init: the kSub lowest-id residual subvectors per subspace. The
    // per-subspace seed set is the SAME kSub lowest _vids for every
    // subspace (each vector explodes into all m subspaces), so the
    // seeds come from a sorted-limit probe of ONE subspace — a
    // TakeOrdered top-k (per-partition top-k + driver merge), never a
    // row_number window that would funnel the whole exploded corpus
    // through m reducers just to pick kSub rows (the hot-key window
    // shape the repo's scale notes forbid; PipelineSpec gates the
    // build plan window-free). The probed ids come back in ascending
    // engine order — the seed RANK reuses it, no driver re-sort whose
    // comparator could disagree with Spark's on exotic id types.
    val lowIds = subRows.where(col("_sub") === 0)
      .select(col("_vid")).orderBy(col("_vid")).limit(kSub)
      .collect().map(_.get(0))
    require(lowIds.nonEmpty,
      "trainResidualCodebook: empty training corpus")
    // duplicate ids would silently collapse the seed set (zipWithIndex
    // .toMap keeps ONE rank per repeated id → fewer than kSub distinct
    // seeds → a degenerate codebook): fail with the actual constraint
    // instead — every id column this library keys on must be unique
    require(lowIds.distinct.length == lowIds.length,
      s"trainResidualCodebook: duplicate vec ids in the seed probe " +
        s"(${lowIds.diff(lowIds.distinct).distinct.take(3)
          .mkString(", ")}) — the id column must be unique")
    val seedRank = lowIds.zipWithIndex.toMap
    val init = subRows.where(col("_vid").isin(lowIds: _*))
      .select(col("_sub"), col("_vid"), col("_rv"))
      .collect().map(r => (r.getInt(0), seedRank(r.get(1)),
        r.getSeq[Long](2).toArray))
      .groupBy(_._1)
    var cb: Seq[Seq[Array[Long]]] = (0 until m).map(s =>
      init.getOrElse(s, Array.empty).sortBy(_._2).map(_._3).toSeq)
    for (_ <- 0 until iters) {
      // argmin-L2 code id per subvector, ties to the lower id: the
      // native [[graft.functions.ResidualCode]] (the interpreted HOF
      // composition it replaced cost the r15 residual sf1 build 50 s
      // vs 29 s raw), identical integer math term for term
      val assigned = subRows.withColumn("_c",
        VectorFunctions.residualCode(col("_sub"), col("_rv"), cb))
      val updated = assigned
        .select(col("_sub"), col("_c"),
          posexplode(col("_rv")).as(Seq("_pos", "_x")))
        .groupBy(col("_sub"), col("_c"), col("_pos"))
        // exact floor-division mean in integers: (s - pmod(s, n)) / n
        .agg(expr("(sum(_x) - pmod(sum(_x), count(1))) div count(1)")
          .as("_mu"))
        .groupBy(col("_sub"), col("_c"))
        .agg(transform(
          array_sort(collect_list(struct(col("_pos"), col("_mu")))),
          s => s.getField("_mu")).as("_cv"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)) ->
          r.getSeq[Long](2).toArray).toMap
      cb = cb.zipWithIndex.map { case (subCents, s) =>
        subCents.zipWithIndex.map { case (c, j) =>
          updated.getOrElse((s, j.toLong), c) } }
    }
    cb
  }

  /** Incrementally add vectors to a [[writeIvfPqIndex]] index: both
    * encodings are pure functions of (stored quantizer, stored
    * codebook, vector) — coarse cell by argmax cosine, code by nearest
    * sub-centroid (raw µ or µ-residual per the header's flag) — so an
    * append writes exactly the code rows a same-quantizer rebuild
    * would, into the matching cells, in one commit; replaying a
    * committed append is a no-op (retrain with [[retrainIvfPqIndex]]
    * when drift unbalances the cells). */
  def appendToIvfPqIndex(newEmb: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    append(newEmb, dir, "appendToIvfPqIndex", "ivfpq") { (emb, idx) =>
      ivfPqCodesOf(residualSubRows(emb, idx.cents, idx.cb.m,
          idx.cb.dims / idx.cb.m, idCol, vecCol, "appendToIvfPqIndex",
          subtract = idx.residual),
        idx.cb.local(emb.sparkSession), idx.cb.m, idx.residual)
        .repartition(col("cell"))
    }

  /** Compact a [[writeIvfPqIndex]] index: the composed-index face of
    * the one fold, duplicates on (cell, _vid, _sub) dropped — unlike
    * raw-vector duplicates these are NOT mere bloat: the ADC serve sums
    * one LUT row per CODE ROW, so a duplicated vector's ⟨q,decode⟩ term
    * doubles and rankings shift silently. One commit. */
  def compactIvfPqCodes(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    fold(spark, dir, "compactIvfPqCodes", "ivfpq", Seq("cell", "_vid", "_sub"))

  /** Retrain a composed [[writeIvfPqIndex]] index under distribution
    * drift. Coarse quantizer and PQ sub-codebooks retrain TOGETHER from
    * the provided embedding frame: the index stores only codes (PQ
    * compression is lossy by design), so retraining needs the corpus —
    * unlike the raw-IVF face, whose index IS the vectors. The encoding
    * contract (raw/residual, dims, m, kSub) carries over from the
    * stored index so a retrain can never silently switch encodings;
    * `kCells`/`iters` are the caller's drift response. The new
    * quantizer, codebook and codes land in one commit that supersedes
    * the old index — a reader sees the old index or the new, never a
    * fresh quantizer over stale codes. No RNG anywhere: retrain ≡ a
    * fresh [[writeIvfPqIndex]] over the same rows, bit for bit
    * (spec-pinned). */
  def retrainIvfPqIndex(emb: DataFrame, dir: String, kCells: Int,
      iters: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    rebuild(emb.sparkSession, dir, "retrainIvfPqIndex", Set("ivfpq")) {
      (prev, commit) =>
        val idx = VecIndex(prev.get)
        // kSub = dense code ids per subspace — meaningful ONLY under the
        // residual layout; a raw codebook's _cell values are coarse-cell
        // ids, so max+1 there would be a bogus kCells-shaped number
        val kSub =
          if (idx.residual) idx.cb.local(emb.sparkSession).map(_._2).max
            .toInt + 1
          else 1
        buildIvfPq(emb, kCells, idx.cb.dims, idx.cb.m, iters, idCol, vecCol,
          idx.residual, kSub, "retrainIvfPqIndex")(commit)
    }

  /** Serve ADC top-k from a [[writeIvfPqIndex]] index: driver probe
    * selection against the header's coarse quantizer (per query: the
    * `nprobe` best cells, the [[ivfTopKFromIndex]] ranking), ONE scan
    * of the listed code files of the probed cells (unprobed cells are
    * never opened), then integer ADC against the broadcast driver-built
    * LUTs, scoped per query to ITS probe set by a broadcast
    * (query_id, cell) join. Raw embeddings are never read; results for
    * corpus queries equal inline probe-then-ADC composition at every
    * nprobe (spec-pinned), and nprobe = kCells degrades to
    * [[pqTopKFromIndex]] over the same codebook. */
  def ivfPqTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: Seq[(Long, Seq[Float])], k: Int,
      nprobe: Int = 1): DataFrame = {
    require(queries.nonEmpty, "empty query set")
    require(k >= 1 && nprobe >= 1, "k >= 1, nprobe >= 1")
    val (man, idx) =
      committed(spark, dir, "ivfPqTopKFromIndex", Set("ivfpq"))
    val cents = idx.cents
    val cb = idx.cb.local(spark)
    val dims = idx.cb.dims
    // per-(query, probed cell) rows; `_qc` is the ⟨q, centroid⟩ ADC
    // term of the residual decomposition ⟨q,x⟩ ≈ ⟨q,c⟩ + ⟨q,decode⟩ —
    // identically zero under raw encoding, so ONE serve plan covers
    // both layouts (and raw scores stay bit-identical to before)
    val probeRows: Seq[Row] = queries.flatMap { case (qid, vec) =>
      require(vec.length == dims,
        s"ivfPqTopKFromIndex: query $qid has ${vec.length} dims, " +
          s"index has $dims")
      val q = vec.map(_.toDouble)
      val qmu = vec.map(x =>
        math.floor(x.toDouble * 1000000.0).toLong)
      probeCellsOf(cents, q, nprobe).map { ci =>
        val qc =
          if (!idx.residual) 0L
          else cents(ci).zip(qmu).foldLeft(0L) { case (acc, (c, qm)) =>
            acc + math.floor(c * 1000000.0).toLong * qm }
        Row(qid, ci, qc)
      }
    }
    val probeSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("cell", IntegerType, nullable = false),
      StructField("_qc", LongType, nullable = false)))
    val probe = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probeSchema)
    val lut = spark.createDataFrame(
      java.util.Arrays.asList(pqLutRows(cb, queries): _*), pqLutSchema)
    // the scan reads only the union of the probe sets' listed files;
    // the broadcast probe join then scopes each query to its own cells
    val scored = cellRows(spark, dir, man, idx,
        probeRows.map(_.getInt(1)).toSet)
      .select(col("cell").cast("int").as("cell"), col("_vid"),
        col("_sub"), col("_cell"))
      .join(broadcast(probe), Seq("cell"))
      .join(broadcast(lut), Seq("query_id", "_sub", "_cell"))
      .where(col("_vid") =!= col("query_id"))
      .groupBy(col("query_id"), col("_vid"))
      // every (query, vid) group shares one cell, so one _qc — max is
      // just the deterministic pick of that constant
      .agg((max(col("_qc")) + sum(col("_dot"))).as("adc_mu2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_mu2").desc, col("_vid").asc)
    scored.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .select(col("query_id"), col("_vid").as("vec_id"), col("adc_mu2"))
  }

  /** Deterministic Rademacher (±1) hyperplane components for
    * sign-random-projection LSH: component (plane, dim) is the low bit
    * of md5("salt:plane:dim") — reproducible on any engine/run, and
    * exposed so SQL oracles can embed the IDENTICAL literals (the
    * hexCutoff discipline). */
  def srpPlanes(nBits: Int, dims: Int, salt: String = "graft")
      : Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until nBits).map { p =>
      (0 until dims).map { d =>
        val h = md.digest(s"$salt:$p:$d".getBytes("UTF-8"))
        if ((h(15) & 1) == 0) 1.0 else -1.0
      }
    }
  }

  /** Sign-random-projection signature: bit i = (dotQ(v, plane_i) >= 0),
    * as a '0'/'1' string (bit 0 first — the simhash convention, so the
    * same banding machinery applies). Planes ride as broadcast
    * literals; each bit is one codegen'd [[dotQ]] — shuffle-free and
    * cross-engine exact (see the [[refineCells]] note: sign off a
    * double fold can flip between engines; the micro-unit integer
    * sum cannot). */
  def srpSignature(emb: DataFrame, planes: Seq[Seq[Double]],
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(planes.nonEmpty, "need at least one plane")
    val bits = planes.map { pl =>
      when(dotQ(col(vecCol), lit(pl.toArray)) >= 0, lit("1"))
        .otherwise(lit("0"))
    }
    emb.select(col(idCol), concat(bits: _*).as("srp"))
  }

  /** SRP-LSH near-duplicate candidate pairs over embeddings — the
    * quantizer-free alternative to IVF cells: band the signature,
    * bucket-join, exact-cosine filter at `threshold`. Candidate recall
    * follows the SRP property (P[bit collision] = 1 - angle/pi), so
    * BAND WIDTH must be calibrated to the threshold: at cos 0.3
    * (p ~ 0.6/bit) 8-bit bands recall ~6% while 2-bit bands recall
    * ~99.9% at correspondingly larger candidate volume (both measured,
    * PipelineSpec); banding trades recall for candidates exactly as in
    * [[graft.pipeline.Dedup.simhashPairs]], and `maxBucket` guards the
    * quadratic blowup the same way. 100 TB shape: one row per
    * (vec, band) — never vecs² — and embeddings are only touched again
    * for the exact filter on surviving candidates. Returns the pairs
    * and the [[Dedup.PinHandle]] owning the pinned signature blocks:
    * consume the frame, then `release()`. */
  def srpCandidatePairs(emb: DataFrame, dims: Int, nBits: Int,
      bands: Int, threshold: Double, maxBucket: Int = Int.MaxValue,
      idCol: String = "vec_id", vecCol: String = "embedding",
      salt: String = "graft"): (DataFrame, Dedup.PinHandle) = {
    require(nBits % bands == 0, "bands must divide nBits")
    require(dims >= 1, "dims >= 1") // explicit: probing the frame for
    // the dimension would be a driver-side action in an operator path
    val w = nBits / bands
    // PIN the signatures: nBits plane-dots per vector, and the banding
    // self-join consumes the subtree from up to FOUR plans (both join
    // sides + the hot-bucket count's anti-join) — the plan audit
    // showed 4 signature passes over the raw embeddings with zero
    // exchange reuse. One row per vector cached; the caller releases
    // the returned handle.
    val (sig, pin) = Dedup.pinNow(
      srpSignature(emb, srpPlanes(nBits, dims, salt), idCol, vecCol))
    val buckets0 = sig.select(col(idCol).as("_id"),
      explode(array((0 until bands).map(b => concat_ws("#",
        lit(b.toString),
        expr(s"substr(srp, ${b * w + 1}, $w)"))): _*)).as("bkt"))
    val buckets =
      if (maxBucket == Int.MaxValue) buckets0
      else {
        require(maxBucket >= 2, s"maxBucket must be >= 2 (got $maxBucket)")
        val hot = buckets0.groupBy(col("bkt"))
          .agg(count(lit(1)).as("_n")).where(col("_n") > maxBucket)
          .select("bkt")
        buckets0.join(broadcast(hot), Seq("bkt"), "left_anti")
      }
    val cand = buckets.as("a")
      .join(buckets.as("b"), col("a.bkt") === col("b.bkt")
        && col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    val n = withNorm(emb, vecCol)
    val out = cand
      .join(n.select(col(idCol).as("id_a"), col(vecCol).as("_va"),
        col("_nrm").as("_na")), "id_a")
      .join(n.select(col(idCol).as("id_b"), col(vecCol).as("_vb"),
        col("_nrm").as("_nb")), "id_b")
      .withColumn("cos_sim",
        round(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 6))
      .where(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
    (out, pin)
  }

  /** All near-duplicate pairs by embedding cosine ≥ threshold.
    * Exact O(n²/cells) via coarse-cell pruning; pass cellCol = None
    * for the unconstrained exact variant. */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double,
      cellCol: Option[String], idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val n = withNorm(emb, vecCol)
    val a = n.as("a"); val b = n.as("b")
    val cellEq = cellCol.map(c => col(s"a.$c") === col(s"b.$c"))
      .getOrElse(lit(true))
    a.join(b, col(s"a.$idCol") < col(s"b.$idCol") && cellEq)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        round(dot(col(s"a.$vecCol"), col(s"b.$vecCol"))
          / (col("a._nrm") * col("b._nrm")), 6).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** Cross-corpus embedding near-duplicate pairs: vectors of `newEmb`
    * within cosine `threshold` of any vector of `refEmb` — the
    * semantic face of [[Dedup.crossCorpusPairs]] (fresh-batch-against-
    * curated-corpus, candidates only cross the boundary so adding a
    * batch costs |batch|·|cell| work, never |corpus|²). Ids may
    * collide across corpora — the pair is (new_id, ref_id), not an
    * ordered in-corpus pair. Cell pruning as in
    * [[cosineNearDupPairs]]. */
  def crossCosinePairs(newEmb: DataFrame, refEmb: DataFrame,
      threshold: Double, cellCol: Option[String],
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val a = withNorm(newEmb, vecCol).as("a")
    val b = withNorm(refEmb, vecCol).as("b")
    val cellEq = cellCol.map(c => col(s"a.$c") === col(s"b.$c"))
      .getOrElse(lit(true))
    a.join(b, cellEq)
      .select(col(s"a.$idCol").as("new_id"),
        col(s"b.$idCol").as("ref_id"),
        round(dot(col(s"a.$vecCol"), col(s"b.$vecCol"))
          / (col("a._nrm") * col("b._nrm")), 6).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }
}
