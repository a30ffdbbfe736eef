package graft.ml

import graft.functions.{VecFold, VecQuant}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.functions._

/** Persisted ANN indexes: build ONCE, serve every later query batch from
  * the stored layout. [[Similarity.ivfTopK]] (and the PQ family) rebuild
  * the coarse index inline per call — the right shape for a one-shot
  * analytical query, the wrong one for a deployment: at corpus scale the
  * assignment pass over n vectors dominates every call, and a 100-TB
  * corpus cannot re-normalize and re-assign per query batch. This is the
  * same build-once contract the trend library applies to its WDT
  * template library (`trend/Wdt.scala` save/load) and binned intermediates
  * (`Tables.saveBinned`), extended to the vector-index surface.
  *
  * On-disk layout (all parquet under `path/`). The coarse quantizer is
  * shared: `centroids/` (cid, cv array<double>, cn) — O(nCells·dim),
  * broadcast at query time — plus, for PQ, `codewords/` (sub, code, cw),
  * nSub·nCode rows. Each data CODING (FAISS's index factory: coarse
  * quantizer × coding × optional refine) is one directory PARTITIONED BY
  * cell, whose rows carry `ins_seq` and the caller's `metaCols` next to
  * the core columns, with its build configuration in a one-row marker:
  *
  * | coding              | data kind    | core (+ vec_id) | marker     | owns cells  |
  * |---------------------|--------------|-----------------|------------|-------------|
  * | flat (raw)          | `postings/`  | v, norm         | `ivf_meta` | if no codes |
  * | SQ8 abs / residual  | `sq_codes/`  | qb, r           | `sq_meta`  | if no PQ    |
  * | PQ seed/train/resid | `pq_codes/`  | sub, code       | `meta`     | always      |
  * | MRL raw / int8      | `mrl_codes/` | vp, vpn / qb, r | `mrl_meta` | never       |
  *
  * Partitioning by cell is the scale decision: a query batch probing P
  * distinct cells reads exactly those P directories (static partition
  * pruning via the collected probe list, bounded by nq·nProbe —
  * query-side cardinality, never corpus-side). The PQ twin stores 8
  * int64 codes per vector instead of 64 doubles, so its serving scan
  * never reads a raw vector; SQ stores 1 byte per dimension.
  *
  * Markers: `ivf_meta` (trained, train_iters, flat), `sq_meta` (the same
  * plus residual), `meta` (residual, trained, n_sub, n_code, train_iters,
  * flat), `mrl_meta` (prefix_dims, quantized). A COMBINED store (PQ
  * and/or SQ codes plus the raw refine flavor, or MRL, which always
  * carries raw) shares one set of centroids, so ONE marker owns their
  * `trained` and assignment-mode `flat` fields (the "owns cells" column):
  * `meta` if present, else `sq_meta`, else `ivf_meta`. Appends route by
  * it ([[storedFlat]]); a rebuild re-trains from it and republishes a
  * combined store's `sq_meta` to match, as a generation of its own
  * ([[Store.SqMetaKind]]). Markers, quantizers and schemas are read
  * through [[Store]]'s driver-side cache.
  *
  * Mutation and publication state beside the data is [[Store]]'s: every
  * kind above (the flat directory is generation 0) is replaced only by
  * the one publish ([[Store.publish]] — [[compact]] and [[rebuild]] stage
  * their output and end there), which commits each new generation
  * `<kind>_v<n>/` with one store-level `commit_v<n>` file; tombstones
  * and the mutation counter are [[Tombstones]]', the single-writer
  * lease [[Lease]]'s.
  *
  * Query-side coarse ranking is the exact FLAT scan over the stored
  * centroids: per query it costs O(nCells·dim), and at serving time
  * nq ≪ n, so the two-level super-quantizer — a BUILD-side device that
  * caps the n·nCells assignment pass — would buy nothing and cost probe
  * quality. Consequence: results are bit-identical to the inline
  * operators wherever the inline assignment is flat (every oracle-floor
  * corpus — the registered `ann_ivf_persisted` / `ann_ivfpq_persisted`
  * rows hash-match the SAME DuckDB oracle as their inline twins); at
  * two-level scale the stored assignment IS the inline assignment (the
  * same [[Similarity.withCellRanks]] pass, persisted), so divergence is
  * confined to query probe sets and is measured by the
  * [[Similarity.ivfAssignAgreement]] convention.
  *
  * Serving: every `*TopKIndexed` serve is one path ([[serve]]) — the
  * probe set, the masked candidate scan of the coding's kind
  * ([[Serve.candidates]]), the coding's `score`, the two-phase top-k in
  * the coding's order ([[Similarity.topK]]), and for the rerank serves
  * the exact refine ([[refine]]), which is the flat coding's score over
  * the shortlisted raw rows. A serve flag (filter, time travel, refine)
  * is threaded through that one path, for every coding at once.
  */
object Index {
  import Store.{CentroidsKind, CodewordsKind, MrlCodesKind, PostingsKind,
    PqCodesKind, SqCodesKind, SqMetaKind, appendMetaCols, committedKinds,
    dropStoreCommits, fencedAppend, generations, liveDir, prunedToProbes,
    retireGenerations, snapshotStore, storedMetaCols}
  import org.apache.spark.sql.Row

  private def centroidsPath(path: String) = s"$path/centroids"
  private def codewordsPath(path: String) = s"$path/codewords"

  /** The kind a store-wide scan reads: the raw flavor if present, else
    * the PQ codes, else the SQ codes (an MRL store always carries raw).
    */
  private def scanKind(kinds: Set[String]): Option[String] =
    Seq(PostingsKind, PqCodesKind, SqCodesKind).find(kinds)

  /** The LIVE quantizers — every read resolves through the generation
    * machinery (a rebuilt store's quantizers live in `centroids_v<n>`; a
    * never-rebuilt store falls through to the flat build dir). Writes
    * keep targeting the flat paths: a fresh build IS generation 0, and
    * [[rebuild]] renames its staged output into a versioned dir instead
    * of writing one directly. The DataFrames feed the residual codings'
    * joins; the driver arrays come from [[Store.table]]'s cache.
    */
  private def centroids(spark: SparkSession, path: String): DataFrame =
    Store.read(spark, liveDir(spark, path, CentroidsKind))
  private def codewords(spark: SparkSession, path: String): DataFrame =
    Store.read(spark, liveDir(spark, path, CodewordsKind))

  /** The stored centroids as (cid, cv, cn), ordered by cid. */
  private def centroidArray(spark: SparkSession, path: String)
      : Array[(Long, Array[Double], Double)] =
    Store.table(spark, liveDir(spark, path, CentroidsKind), "centroids") { rows =>
      rows.map(r => (r.getAs[Long]("cid"), r.getAs[Seq[Double]]("cv").toArray,
        r.getAs[Double]("cn"))).sortBy(_._1)
    }.getOrElse(throw new IllegalArgumentException(s"no centroids at $path"))

  /** The stored PQ codebook per subspace, each sorted by code id
    * (constant-bounded: nSub·nCode rows) — [[encodeCells]]' table.
    */
  private def codebook(spark: SparkSession, path: String)
      : Map[Long, Array[(Long, Array[Double])]] =
    Store.table(spark, liveDir(spark, path, CodewordsKind), "codebook") { rows =>
      rows.map(r => (r.getAs[Long]("sub"), r.getAs[Long]("code"),
          r.getAs[Seq[Double]]("cw").toArray))
        .groupBy(_._1)
        .map { case (m, cws) => m -> cws.map(r => (r._2, r._3)).sortBy(_._1) }
    }.getOrElse(throw new IllegalArgumentException(s"no PQ codebook at $path"))

  /** Whether the store's PQ codes are residual-coded ([[saveIvfPq]]
    * `residual`); stores written before the marker existed are absolute.
    */
  private[graft] def isResidual(spark: SparkSession, path: String): Boolean =
    config(spark, path, "meta").residual

  /** A store's build configuration, read back from its marker table —
    * what [[rebuild]] must re-invoke the save with. Markers written
    * before a column existed fall back to that column's historical
    * default (those stores WERE built with the default).
    */
  private case class BuildMeta(residual: Boolean, trained: Boolean,
                               nSub: Int, nCode: Int, trainIters: Int,
                               flat: Boolean)

  /** A marker table's column set and one row, from [[Store.table]]'s
    * driver-side cache (the live generation of `sq_meta`, which a
    * rebuild republishes; the build directory of every other marker).
    */
  private def marker(spark: SparkSession, path: String,
                     name: String): Option[(Set[String], Row)] =
    Store.table(spark, liveDir(spark, path, name), "marker") { rows =>
      (rows.head.schema.fieldNames.toSet, rows.head)
    }

  private def config(spark: SparkSession, path: String, name: String): BuildMeta =
    buildMetaOf(marker(spark, path, name))

  private def buildMetaOf(meta: Option[(Set[String], Row)]): BuildMeta =
    meta match {
      case None => BuildMeta(false, false, 8, 16, 3, false)
      case Some((cols, row)) =>
        def get[T](name: String, dflt: T)(f: Int => T): T =
          if (cols.contains(name)) f(row.fieldIndex(name)) else dflt
        BuildMeta(
          get("residual", false)(row.getBoolean),
          get("trained", false)(row.getBoolean),
          get("n_sub", 8)(row.getInt),
          get("n_code", 16)(row.getInt),
          get("train_iters", 3)(row.getInt),
          get("flat", false)(row.getBoolean))
    }

  /** The store's recorded assignment mode — flat (`forceFlat` build) or
    * two-level past [[Similarity.twoLevelMinCells]]. Appends and the
    * rebuild must route arriving vectors the way the build routed the
    * corpus: a flat-built 400-cell store whose appends route two-level
    * parks vectors in cells the flat query probe never reads (whole
    * families off-macro — measured recall 0.0 on the 1000× family
    * fixture, SCALING.md). Marker ownership mirrors [[rebuild]]'s:
    * the PQ marker if present, else SQ, else IVF.
    */
  private def storedFlat(spark: SparkSession, path: String): Boolean = {
    val meta = Seq("meta", SqMetaKind, "ivf_meta").iterator
      .map(marker(spark, path, _)).collectFirst { case Some(m) => m }
    // LEGACY-STORE migration warning: markers written before the `flat`
    // column record nothing about the assignment mode, so this defaults
    // to two-level — which is only WRONG if the store was flat-built
    // AND is past the two-level activation threshold (below it the two
    // modes coincide). A flat-built 400-cell legacy store whose appends
    // route two-level parks vectors in cells the flat probe never reads
    // (recall 0.0 on the 1000× family fixture) — warn once per touch so
    // the operator rebuilds (a rebuild stamps the column; note it also
    // permanently converts the store to two-level geometry unless the
    // rebuild is re-run with forceFlat via a fresh save).
    if (meta.exists(!_._1.contains("flat")) &&
        centroidArray(spark, path).length >= Similarity.twoLevelMinCells)
      System.err.println(s"[graft.Index] WARNING: store at $path predates " +
        "the `flat` assignment-mode marker and has enough cells for " +
        "two-level routing — if it was built forceFlat = true, appends " +
        "and rebuilds will route two-level and miss the flat probe set " +
        "(recall collapse). Rebuild the store to stamp its mode.")
    buildMetaOf(meta).flat
  }

  /** The non-metadata columns of each store flavor — everything else in a
    * stored schema is caller metadata persisted via `metaCols`.
    */
  private val postingsCore = Set("vec_id", "v", "norm", "cell", "ins_seq")
  private val pqCodesCore = Set("vec_id", "sub", "code", "cell", "ins_seq")
  private val sqCodesCore = Set("vec_id", "qb", "r", "cell", "ins_seq")
  private val mrlCodesCore = Set("vec_id", "vp", "vpn", "cell", "ins_seq")

  /** The assignment every coding derives its rows from: (vec_id, v, norm,
    * cell) from the shared coarse pass ([[Similarity.ivfAssign]]
    * semantics: two-level past `twoLevelMin` cells), against the STORED
    * centroids `seeds` (a trained build, every append) or else the
    * `cells` smallest-id vectors. `cells` is already resolved — counting
    * here again doubled the build's full-corpus scans.
    */
  private def assigned(emb: DataFrame, cells: Int, twoLevelMin: Int,
                       superProbe: Int,
                       seeds: Array[(Long, Array[Double], Double)] = null)
      : DataFrame =
    Similarity.withCellRanks(Similarity.normed(emb), cells, 1,
      twoLevelMin = twoLevelMin, superProbe = superProbe, seedArr = seeds)
      .select(col("vec_id"), col("v"), col("norm"),
        element_at(col("cells"), 1).as("cell"))

  /** One serve's query side, each part computed once: the quantizers,
    * the normalized queries `qn`, the (query_id, cell) probe pairs from
    * the exact flat scan over the stored centroids (ties and 9-dp
    * rounding exactly as the inline path), the probed-cell list the
    * candidate scan and the refine both prune to, and the exact kernel's
    * query projection `qv`.
    */
  private final class Serve(val spark: SparkSession, val path: String,
                            val queries: DataFrame, nProbe: Int) {
    lazy val cents: DataFrame = centroids(spark, path)
    lazy val codewords: DataFrame = Index.codewords(spark, path)
    val qn: DataFrame = Similarity.normed(queries)
    private val ranked: DataFrame = {
      val cents = centroidArray(spark, path)
      Similarity.withCellRanks(qn, cents.length, keep = nProbe,
        twoLevelMin = Int.MaxValue, seedArr = cents)
    }
    val probes: DataFrame = ranked.select(col("vec_id").as("query_id"),
      explode(slice(col("cells"), 1, nProbe)).as("cell"))
    /** The probed cells, from the probe lists collected on the driver
      * (nQueries × nProbe values). A local query batch (a driver-side
      * Seq) runs no job for it: Spark's optimizer folds the projection
      * of a local relation on the driver.
      */
    lazy val cells: Array[Long] =
      ranked.select(slice(col("cells"), 1, nProbe)).collect()
        .flatMap(_.getSeq[Long](0)).distinct.sorted
    lazy val qv: DataFrame = qn.select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("norm").as("qnorm"))

    /** The ONE candidate scan: the live `kind` rows of the probed cells,
      * with `candWhere` and the time-travel bound pushed into the scan,
      * then the tombstone mask — applied BEFORE ranking, so a deleted row
      * never consumes a top-k slot (rank-then-filter would return short
      * results).
      */
    def candidates(kind: String, candWhere: Column,
                   asOfSeq: Option[Long]): DataFrame =
      Tombstones.mask(
        asOfCandidates(prunedToProbes(spark, liveDir(spark, path, kind), cells)
          .where(candWhere), asOfSeq),
        asOfTombstones(spark, path, asOfSeq), "vec_id")

    /** Candidates paired with every query probing their cell; a stored
      * vector with the query's own id is excluded from its result (the
      * inline self-exclusion contract).
      */
    def pairs(c: DataFrame): DataFrame =
      c.join(broadcast(probes), Seq("cell")).where(col("vec_id") =!= col("query_id"))
  }

  /** The 6-dp safe cosine of `x` (norm `xn`) against `qx` (norm `qn`). */
  private def cosine(x: Column, xn: Column, qx: Column, qn: Column): Column =
    round(Similarity.safeCosine(VecFold.dot(x, qx), xn, qn), 6)

  /** (query_id, neighbor_id = `id`, `score`) of `pairs` joined to the
    * broadcast query-side rows `qside`.
    */
  private def against(pairs: DataFrame, qside: DataFrame, id: String,
                      score: Column): DataFrame =
    pairs.join(broadcast(qside), "query_id")
      .select(col("query_id"), col(id).as("neighbor_id"), score)

  /** The absolute int8 codings' score: the exact integer dot of the
    * packed codes against the query's packed rows `qrows` (vec_id, qb),
    * times the stored rescale factor. |q| ≤ 127 keeps every product and
    * the sum exact in Long, so the score is order-free and
    * bit-reproducible. A rank-only surrogate, not a true cosine: the
    * query-side factor is constant per query and cannot reorder.
    */
  private def codeDot(pairs: DataFrame, qrows: DataFrame,
                      name: String): DataFrame =
    against(pairs, qrows.select(col("vec_id").as("query_id"), col("qb").as("qqb")),
      "vec_id", (VecQuant.byteDot(col("qb"), col("qqb")) * col("r")).as(name))

  /** One data CODING of a dense store (the layout table above): the
    * directory `kind` it writes, its `core` (non-metadata) columns, the
    * `marker` recording its configuration, and `rows` — the (vec_id, v,
    * norm, cell) assignment mapped to its stored rows (vec_id, cell,
    * coded columns). Every build, append, upsert and staged rebuild
    * writes each coding through [[build]] / [[appendTo]].
    */
  private sealed abstract class Coding(val kind: String, val core: Set[String],
                                       val marker: String) {
    /** `dir` is the store (or stage) whose quantizers code the rows. */
    def rows(a: DataFrame, dir: String): DataFrame
    /** Build only: train + persist the coding's own quantizer under
      * `dir`, after the assignment and before any rows are derived.
      */
    def train(emb: DataFrame, a: DataFrame, dir: String): Unit = ()
    /** Build only: derive the rows from the just-written raw postings
      * (which already carry the metadata) instead of the assignment.
      */
    def fromPostings: Boolean = false
    /** Serve: the masked candidates `c` of this kind scored against the
      * query batch → (query_id, neighbor_id, [[scoreCol]]), ranked by
      * [[order]].
      */
    def score(c: DataFrame, s: Serve): DataFrame
    def scoreCol: String = "cosine"
    def order: Seq[Column] = Seq(desc(scoreCol), asc("neighbor_id"))
  }

  /** IVF-Flat: the assignment itself — raw vectors, the refine flavor. */
  private case object Flat extends Coding(PostingsKind, postingsCore, "ivf_meta") {
    def rows(a: DataFrame, dir: String): DataFrame = a
    def score(c: DataFrame, s: Serve): DataFrame = exact(s.pairs(c), "vec_id", s)
    /** The exact-cosine kernel, shared with [[refine]]: rows carrying
      * (query_id, `id`, v, norm) against the query projection.
      */
    def exact(rows: DataFrame, id: String, s: Serve): DataFrame =
      against(rows, s.qv, id,
        cosine(col("v"), col("norm"), col("qv"), col("qnorm")).as(scoreCol))
  }

  /** SQ8 — per-vector int8 codes with [[sqRows]]' conventions (per-vector
    * scales: no corpus-level quantizer to train), derived from the
    * assignment, whose v/norm ARE `normed(emb)`'s columns. Absolute: `r`
    * is the rescale factor of a rank-only integer-dot score. RESIDUAL
    * (FAISS's by_residual): quantize x − c[cell], so the int8 step shrinks
    * from max|x|/127 (corpus scale) to max|resid|/127 (CELL scale) — on
    * any clustered corpus an order of magnitude finer for the same byte,
    * and unlike residual PQ with NO trained codebook; `r` is the residual
    * scale (reconstruction x̂ = c + qb·r/127).
    * The serve scores by the marker's coding (a residual store ranked by
    * the absolute integer dot would be silently garbage): residual — the
    * true cosine of the dequantized candidate against the FLOAT query
    * (asymmetric distance); absolute — [[codeDot]], rank-equal to
    * [[Similarity.int8TopK]] restricted to the probed cells.
    */
  private final case class Sq(residual: Boolean)
      extends Coding(SqCodesKind, sqCodesCore, "sq_meta") {
    def rows(a: DataFrame, dir: String): DataFrame =
      if (residual) int8Rows(residuals(a, centroids(a.sparkSession, dir)), col("v"), col("scale"),
        Seq(col("vec_id"), col("cell")))
      else int8Rows(a, col("v"), rescale(col("norm")),
        Seq(col("vec_id"), col("cell")))
    override def scoreCol: String = "score"
    def score(c: DataFrame, s: Serve): DataFrame =
      if (residual) {
        val xh = c.join(broadcast(s.cents.select(col("cid").as("cell"), col("cv"))),
            "cell")
          .withColumn("xh", VecQuant.reconstruct(col("cv"), col("qb"), col("r")))
        against(s.pairs(xh), s.qv, "vec_id", cosine(col("xh"),
          sqrt(VecFold.dot(col("xh"), col("xh"))), col("qv"), col("qnorm")).as(scoreCol))
      } else codeDot(s.pairs(c), sqRows(s.queries), scoreCol)
  }

  /** PQ codes — seeded, trained or residual (`cfg`). At build the
    * codebook is trained and persisted first: trained = pqTrain's
    * dequantized Lloyd output, over residuals when residual coding is
    * on, absolute vectors otherwise; seeded = the nCode smallest-id
    * corpus vectors sliced per subspace, encoded with the oracle-pinned
    * seed kernel. Otherwise (every append) the batch is encoded against
    * the FROZEN stored codebook. Either way the encode input is the
    * assignment's rows — no corpus re-scan, no re-attach join.
    * The serve ranks by ADC: a per-query lookup table of 9-dp-scaled
    * int64 squared distances from each query subvector to each codeword
    * (residual: per (query, probed cell), over the query's own residual —
    * nq·nProbe·nSub·nCode entries, query-bounded), summed exactly over a
    * candidate's codes; no raw corpus vector is read.
    */
  private final case class Pq(cfg: BuildMeta, atBuild: Boolean = false)
      extends Coding(PqCodesKind, pqCodesCore, "meta") {
    def rows(a: DataFrame, dir: String): DataFrame = {
      val spark = a.sparkSession
      if (atBuild && !cfg.trained) pqSeedCodesWithCell(a, cfg.nSub, cfg.nCode)
      else encodeCells(spark,
        if (cfg.residual) residuals(a, centroids(spark, dir)) else a, codebook(spark, dir))
    }
    override def train(emb: DataFrame, a: DataFrame, dir: String): Unit = if (atBuild) {
      val spark = emb.sparkSession
      import spark.implicits._
      val codebook =
        if (cfg.residual) Similarity.pqTrainCodebook(
          residuals(a, centroids(spark, dir)).withColumnRenamed("v", "embedding"),
          cfg.nSub, cfg.nCode, cfg.trainIters)
        else if (cfg.trained)
          Similarity.pqTrainCodebook(emb, cfg.nSub, cfg.nCode, cfg.trainIters)
        else {
          val seeds: Array[(Long, Array[Double])] = Similarity.normed(emb)
            .orderBy("vec_id").limit(cfg.nCode)
            .select("vec_id", "v").collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          val sub = (if (seeds.nonEmpty) seeds(0)._2.length else 0) / cfg.nSub
          spark.createDataset(for {
            m <- 0 until cfg.nSub
            (cid, cv) <- seeds
          } yield (m.toLong, cid, cv.slice(m * sub, (m + 1) * sub).toSeq))
            .toDF("sub", "code", "cw")
        }
      codebook.write.mode("overwrite").parquet(codewordsPath(dir))
    }
    override def scoreCol: String = "adc_e9"
    override def order: Seq[Column] = Seq(asc(scoreCol), asc("neighbor_id"))
    def score(c: DataFrame, s: Serve): DataFrame = {
      // the stored codeword width IS the subspace width, dim / nSub, on
      // seeded, trained and residual codebooks alike
      val w = size(col("cw"))
      def d2i(x: Column): Column = floor(VecFold.l2sq(
          slice(x, col("sub").cast("int") * w + 1, w), col("cw")) * 1e9 + 0.5)
        .cast("long").as("d2i")
      val qv = s.qn.select(col("vec_id").as("query_id"), col("v"))
      val (lut, keys) =
        if (cfg.residual) (s.probes
          .join(broadcast(s.cents.select(col("cid").as("cell"), col("cv"))), "cell")
          .join(qv, "query_id")
          .select(col("query_id"), col("cell"), VecQuant.sub(col("v"), col("cv")).as("rv"))
          .crossJoin(broadcast(s.codewords))
          .select(col("query_id"), col("cell"), col("sub"), col("code"), d2i(col("rv"))),
          Seq("query_id", "cell", "sub", "code"))
        else (qv.crossJoin(broadcast(s.codewords))
          .select(col("query_id"), col("sub"), col("code"), d2i(col("v"))),
          Seq("query_id", "sub", "code"))
      s.pairs(c.select("vec_id", "sub", "code", "cell"))
        .join(broadcast(lut), keys)
        .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
        .agg(sum("d2i").as(scoreCol))
    }
  }

  /** The matryoshka prefix flavor: the first `dims` dimensions of `v` —
    * exactly the truncation [[Similarity.matryoshkaRecall]] evaluates —
    * with their norm (raw), or int8-packed with [[sqRows]]' conventions
    * over the prefix (`quantized`, the MRL × SQ8 tier). The build slices
    * the just-written postings (one pruned re-read yields cell, prefix
    * AND metadata), an append slices its assignment; the source's
    * metadata columns ride through.
    */
  private final case class Mrl(dims: Int, quantized: Boolean) extends Coding(
      MrlCodesKind, if (quantized) sqCodesCore else mrlCodesCore, "mrl_meta") {
    override def fromPostings: Boolean = true
    def rows(src: DataFrame, dir: String): DataFrame = {
      val keep = Seq(col("vec_id"), col("cell"))
      val meta = src.columns.filterNot(postingsCore.contains).toSeq.map(col)
      val p = src.withColumn("pv", slice(col("v"), 1, dims))
        .withColumn("pn", sqrt(VecFold.dot(col("pv"), col("pv"))))
      if (quantized) int8Rows(p, col("pv"), rescale(col("pn")), keep, meta)
      else p.select(keep ++ Seq(col("pv").as("vp"), col("pn").as("vpn")) ++ meta: _*)
    }
    /** The shortlist score: the prefix cosine exactly as
      * [[Similarity.matryoshkaRecall]] evaluates it, or on the quantized
      * tier [[codeDot]] over the query's packed prefix ([[mrlSqRows]]) —
      * a rank-only surrogate, all a shortlist that feeds the exact refine
      * needs.
      */
    def score(c: DataFrame, s: Serve): DataFrame =
      if (quantized) codeDot(s.pairs(c), mrlSqRows(s.queries, dims), scoreCol)
      else against(s.pairs(c), s.queries.select(col("vec_id").as("query_id"),
            slice(col("embedding").cast("array<double>"), 1, dims).as("qpv"))
          .withColumn("qpn", sqrt(VecFold.dot(col("qpv"), col("qpv")))),
        "vec_id", cosine(col("vp"), col("vpn"), col("qpv"), col("qpn")).as(scoreCol))
  }

  /** The coding a store's `kind` directory holds, configured from its
    * marker. MRL markers written before the `quantized` column are
    * raw-prefix.
    */
  private def codingOf(kind: String, spark: SparkSession, path: String): Coding =
    kind match {
      case PostingsKind => Flat
      case PqCodesKind => Pq(config(spark, path, "meta"))
      case SqCodesKind => Sq(config(spark, path, SqMetaKind).residual)
      case MrlCodesKind => marker(spark, path, "mrl_meta") match {
        case None => throw new IllegalArgumentException(
          s"no MRL marker at $path/mrl_meta — not an MRL store")
        case Some((cols, row)) =>
          Mrl(row.getInt(row.fieldIndex("prefix_dims")),
            cols.contains("quantized") && row.getBoolean(row.fieldIndex("quantized")))
      }
    }

  /** (vec_id, v − c[cell], cell): the residual codings' encode input. */
  private def residuals(a: DataFrame, cents: DataFrame): DataFrame =
    a.join(broadcast(cents.select(col("cid").as("cell"), col("cv"))), "cell")
      .select(col("vec_id"), VecQuant.sub(col("v"), col("cv")).as("v"),
        col("cell"))

  /** Re-attach the metadata columns `meta` from `src` to coded rows. */
  private def withMeta(rows: DataFrame, src: DataFrame,
                       meta: Seq[String]): DataFrame =
    if (meta.isEmpty) rows
    else rows.join(src.select((col("vec_id") +: meta.map(col)): _*), "vec_id")

  /** The ONE cell-partitioned write every coding goes through: stamp the
    * call's mutation seq (`ins_seq`; 0 for a fresh build), then
    * repartition BY THE PARTITION COLUMN before writing: partitionBy
    * alone emits one file per (task × cell) — 12,800 ~65 KB files for
    * 400 cells at the 1000× corpus (measured), 2B files at 200k cells.
    * Hash-clustering on cell makes it one file per cell per write; at a
    * build that full-corpus shuffle is the right trade for a store read
    * for weeks. (An over-large cell can still be split via
    * spark.sql.files.maxRecordsPerFile.)
    */
  private def writeCells(rows: DataFrame, seq: Long, dir: String,
                         mode: String): Unit =
    rows.withColumn("ins_seq", lit(seq))
      .repartition(col("cell"))
      .write.mode(mode).partitionBy("cell")
      .parquet(dir)

  /** The BUILD half of the lifecycle — every save* and the staged
    * rebuild: write the `markers`, the coarse centroids (kmeans when
    * `trained`, else the deterministic smallest-id seeds), ONE
    * assignment, each coding's own quantizer, then every coding's rows
    * in `codings` order (metadata re-attached once per coding) through
    * [[writeCells]]. A direct save over an existing store is an in-place
    * rebuild: the written kinds' stale generations are retired, and a
    * fresh build (`insSeq` 0) clears the mutation history.
    */
  private def build(emb: DataFrame, dir: String, nCells: Int,
                    forceFlat: Boolean, superProbe: Int,
                    metaCols: Seq[String], trained: Boolean,
                    trainIters: Int, insSeq: Long, codings: Seq[Coding],
                    markers: Seq[(String, DataFrame)]): Unit = {
    val spark = emb.sparkSession
    retireQuantizerGenerations(spark, dir)
    val cells = Similarity.autoCells(emb.count(), nCells)
    markers.foreach { case (name, m) =>
      m.write.mode("overwrite").parquet(s"$dir/$name")
    }
    val cents =
      if (trained) Similarity.kmeansCentroids(emb, cells, trainIters)
      else Similarity.normed(emb)
        .orderBy("vec_id").limit(cells)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("norm").as("cn"))
    cents.write.mode("overwrite").parquet(centroidsPath(dir))
    val twoLevelMin = if (forceFlat) Int.MaxValue else Similarity.twoLevelMinCells
    val a =
      if (trained) {
        val stored = centroidArray(spark, dir)
        assigned(emb, stored.length, twoLevelMin, superProbe, stored)
      } else assigned(emb, cells, twoLevelMin, superProbe)
    codings.foreach(_.train(emb, a, dir))
    if (insSeq == 0L) Tombstones.clear(spark, dir)
    codings.foreach { c =>
      val rows =
        if (c.fromPostings) c.rows(Store.read(spark, liveDir(spark, dir, PostingsKind)), dir)
        else withMeta(c.rows(a, dir), emb, metaCols)
      retireGenerations(spark, dir, c.kind)
      writeCells(rows, insSeq, s"$dir/${c.kind}", "overwrite")
    }
  }

  /** The APPEND half — every appendIvf*, and every upsertIvf* after its
    * tombstone ([[upsertTo]]). The batch is assigned against the FROZEN
    * stored centroids, routed the way the build routed ([[storedFlat]]);
    * every written coding derives its rows from that one assignment with
    * its frozen quantizers and re-attaches the metadata the STORE was
    * built with ([[appendMetaCols]] — a mismatch fails before anything is
    * written); all share one mutation seq, stamped after an upsert's
    * tombstone so the new rows outrank it. `kind` is the entry point's
    * coding; a combined store's raw flavor rides along and is written
    * FIRST ([[fencedAppend]]).
    */
  private def appendTo(spark: SparkSession, path: String, batch: DataFrame,
                       superProbe: Int, metaCols: Seq[String], kind: String,
                       op: String): Unit =
    Lease.withLease(spark, path, op) {
      val cents = centroidArray(spark, path)
      val a = assigned(batch, cents.length,
        if (storedFlat(spark, path)) Int.MaxValue
        else Similarity.twoLevelMinCells, superProbe, cents)
      val kinds =
        if (kind == PostingsKind) Seq(kind)
        else if (committedKinds(spark, path)(PostingsKind)) Seq(PostingsKind, kind)
        else Seq(kind)
      val coded = kinds.map { k =>
        val c = codingOf(k, spark, path)
        val meta = appendMetaCols(spark, liveDir(spark, path, k), c.core,
          batch, metaCols)
        k -> withMeta(c.rows(a, path), batch, meta)
      }
      val seq = Tombstones.nextSeq(spark, path)
      coded.foreach { case (k, rows) =>
        fencedAppend(spark, path, k)(writeCells(rows, seq, _, "append"))
      }
    }

  /** [[upsertIvf]]'s delete-then-add, for any entry point's coding. */
  private def upsertTo(spark: SparkSession, path: String, batch: DataFrame,
                       superProbe: Int, metaCols: Seq[String], kind: String,
                       op: String): Unit =
    Lease.withLease(spark, path, op) {
      delete(spark, path, batch.select("vec_id"))
      appendTo(spark, path, batch, superProbe, metaCols, kind, op)
    }

  /** Build + persist an IVF-Flat index of `emb` under `path`.
    * `metaCols` names extra `emb` columns to carry INTO the postings
    * (e.g. a label or language id): filtered serving
    * ([[ivfTopKIndexed]]'s `candWhere`) then pushes its predicate into
    * the postings parquet scan itself — candidates are cut at the
    * source, before any join, which is the only shape that survives a
    * low-selectivity filter at corpus scale (a post-join filter would
    * materialize every candidate first).
    */
  /** `insSeq` stamps the build rows' mutation sequence — 0 for a fresh
    * build; [[rebuild]] passes the store's bumped counter so rows
    * republished into a store whose tombstones survive the flip (the
    * reader-safe rebuild leaves them for the next compaction) outrank
    * every existing `del_seq` instead of being silently re-masked.
    */
  def saveIvf(emb: DataFrame, path: String, nCells: Int = 16,
              forceFlat: Boolean = false,
              superProbe: Int = Similarity.defaultSuperProbe,
              metaCols: Seq[String] = Nil,
              trained: Boolean = false,
              trainIters: Int = 3,
              insSeq: Long = 0L): Unit =
    Lease.withLease(emb.sparkSession, path, "saveIvf") {
    import emb.sparkSession.implicits._
    // the store self-describes its build configuration so [[rebuild]]
    // re-saves with the SAME coding instead of silently downgrading a
    // trained store to seeded centroids
    build(emb, path, nCells, forceFlat, superProbe, metaCols, trained,
      trainIters, insSeq, Seq(Flat), Seq(Flat.marker ->
        Seq((trained, trainIters, forceFlat)).toDF("trained", "train_iters", "flat")))
  }

  /** Build + persist the compressed IVF-PQ twin: cell-partitioned PQ
    * codes (the serving scan) plus the codebook. Codes and assignment are
    * the exact relations [[Similarity.ivfPqTopK]] builds inline
    * ([[Similarity.pqCodes]] + the shared coarse pass).
    */
  /** `withRaw = true` additionally persists the raw postings flavor from
    * the SAME assignment pass (one extra cell-partitioned write, no
    * second assignment scan) — the combined store the rerank serve
    * ([[ivfPqRerankTopKIndexed]]) reads: PQ codes for the ADC shortlist,
    * co-located raw vectors for the exact refine.
    */
  /** `residual = true` is the FAISS-IVFPQ production coding: vectors are
    * PQ-encoded as RESIDUALS against their assigned coarse centroid
    * (x − c[cell]) instead of absolute positions, and the serve builds
    * its ADC lookup table per (query, probed cell) over the query's own
    * residual. Why it matters: absolute-coding ADC error scales with the
    * CORPUS spread (nCode codewords must tile the whole space), while
    * residual error scales with the CELL spread — on any clustered
    * corpus that is an order of magnitude finer for the same code
    * budget. Requires `trained = true`: the codebook is Lloyd-trained on
    * the residual distribution (a seeded residual codebook would slice
    * residuals of the smallest-id vectors, which under seed centroids
    * ARE the centroids — identically zero). LUT cost grows from
    * nq·nSub·nCode to nq·nProbe·nSub·nCode — still query-bounded.
    */
  def saveIvfPq(emb: DataFrame, path: String, nCells: Int = 16,
                nSub: Int = 8, nCode: Int = 16,
                forceFlat: Boolean = false,
                superProbe: Int = Similarity.defaultSuperProbe,
                metaCols: Seq[String] = Nil,
                trained: Boolean = false,
                withRaw: Boolean = false,
                trainIters: Int = 3,
                residual: Boolean = false,
                insSeq: Long = 0L): Unit =
    Lease.withLease(emb.sparkSession, path, "saveIvfPq") {
    require(!residual || trained,
      "residual coding needs trained quantizers (the seeded residual " +
        "codebook is degenerate: smallest-id residuals under smallest-id " +
        "centroids are identically zero) — pass trained = true")
    import emb.sparkSession.implicits._
    // the marker lets every serve/append/rebuild resolve the coding from
    // disk (a residual store served with absolute LUTs would be silently
    // garbage). Raw AFTER the codes: a crash mid-build leaves at worst a
    // codes-only store, on which rerank fails loudly, never silently
    val pq = Pq(BuildMeta(residual, trained, nSub, nCode, trainIters, forceFlat),
      atBuild = true)
    build(emb, path, nCells, forceFlat, superProbe, metaCols, trained,
      trainIters, insSeq, pq +: (if (withRaw) Seq(Flat) else Nil),
      Seq(pq.marker -> Seq((residual, trained, nSub, nCode, trainIters, forceFlat))
        .toDF("residual", "trained", "n_sub", "n_code", "train_iters", "flat")))
  }

  /** PQ-encode a pre-assigned batch against a stored codebook, carrying
    * the cell through: `src` is (vec_id, v, cell) — the assignment
    * itself, whose `v` IS `normed(emb)`'s column — so the corpus is NOT
    * re-read for the encode and no (vec_id → cell) re-attach join follows.
    * [[Similarity.pqCodes]]' rounding and tie semantics exactly
    * (9-dp-rounded subspace L2, smaller code id wins ties): `bySub` is
    * the [[codebook]], sorted by code id within each subspace, so the
    * linear scan reproduces the first-smallest-id tie-break. Output
    * (vec_id, sub, code, cell).
    */
  private def encodeCells(spark: SparkSession, src: DataFrame,
                          bySub: Map[Long, Array[(Long, Array[Double])]]): DataFrame = {
    val bc = spark.sparkContext.broadcast(bySub)
    codesOf(src, GraftShim.column(graft.functions.PqEncode(
      GraftShim.expression(col("v")), bc, bySub.size)))
  }

  /** The seeded-codebook twin of [[encodeCells]]: codebook m = subvector
    * m of the `k` smallest-id vectors of the assignment (the
    * [[Similarity.pqCodes]] convention — `src.v` is `normed(emb).v`, so
    * the seeds are the same rows pqCodes would collect), assignment via
    * the same 9-dp/ties kernel.
    */
  private def pqSeedCodesWithCell(src: DataFrame, nSub: Int,
                                  k: Int): DataFrame = {
    val cents: Array[(Long, Array[Double])] = src
      .orderBy("vec_id").limit(k)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val bc = src.sparkSession.sparkContext.broadcast(cents)
    codesOf(src, GraftShim.column(graft.functions.PqSeedCodes(
      GraftShim.expression(col("v")), bc, nSub)))
  }

  /** One (vec_id, sub, code, cell) row per subspace of `codes`, a native
    * encode expression over `src.v` (not a udf: primitive vector input,
    * no boxed Seq[Double] per row — graft.functions.PqKernels).
    */
  private def codesOf(src: DataFrame, codes: Column): DataFrame =
    src
      .select(col("vec_id"), posexplode(codes).as(Seq("sub", "code")), col("cell"))
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"),
        col("cell"))

  /** Refresh a stored IVF-Flat index WITHOUT a rebuild: assign only the
    * arriving batch against the STORED centroids (the
    * [[Similarity.ivfAssignIncremental]] daily-refresh contract —
    * O(batch · nCells), no standing rescan, two-level routing past the
    * activation threshold exactly like the build) and append its postings
    * to the cell partitions. The quantizer is intentionally frozen: cell
    * ids stay stable, so existing postings never move — the standard IVF
    * refresh trade-off (centroid drift is the [[Similarity.snapshotDrift]]
    * monitor's job; a drifted corpus warrants a rebuild, not an append).
    * Concurrency: a parquet reader lists files at PLAN time, so a serve
    * planned before an append completes simply answers from the
    * pre-append snapshot — appends are atomic-per-file and
    * eventually-visible, never torn.
    */
  def appendIvf(spark: SparkSession, path: String, newEmb: DataFrame,
                superProbe: Int = Similarity.defaultSuperProbe,
                metaCols: Seq[String] = Nil): Unit =
    appendTo(spark, path, newEmb, superProbe, metaCols, PostingsKind, "appendIvf")

  /** Refresh a stored IVF-PQ index without a rebuild — the compressed
    * twin of [[appendIvf]], and the one that matters at corpus scale
    * (the PQ store is what a 100-TB deployment actually serves from).
    * The arriving batch is coarse-assigned against the FROZEN stored
    * centroids and PQ-encoded against the FROZEN stored codebook
    * ([[Similarity.pqCodes]] rounding and tie-break semantics exactly:
    * 9-dp-rounded subspace L2, smaller code id wins ties), then appended
    * to its `pq_codes` cell partitions. Both quantizers stay frozen for
    * the same reason the IVF one does: code/cell ids remain stable so
    * existing rows never move; codebook drift, like centroid drift, is a
    * rebuild decision informed by [[Similarity.snapshotDrift]].
    */
  def appendIvfPq(spark: SparkSession, path: String, newEmb: DataFrame,
                  superProbe: Int = Similarity.defaultSuperProbe,
                  metaCols: Seq[String] = Nil): Unit =
    appendTo(spark, path, newEmb, superProbe, metaCols, PqCodesKind, "appendIvfPq")

  /** Tombstone a batch of vector ids — O(batch), no partition rewrite.
    * Masked everywhere from the next serve's plan on: the ADC scan, the
    * flat scan, and the rerank refine all anti-join the tombstones
    * against their already-pruned candidates ([[Tombstones]] for the
    * masking rule and why upserted rows are exempt). Physical removal
    * and tombstone consumption happen at the next [[compact]]; the mass
    * outstanding is [[deleteStats]]' job.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Store.delete(spark, path, ids, "vec_id", "delete")

  /** Predicate deletion (the DELETE WHERE / retention shape): tombstone
    * every CURRENTLY-SERVED id matching `pred` — a predicate over the
    * store's own columns, metadata (`metaCols`) included, so "drop
    * tenant X" / "drop label 3" needs no external id list. One pruned
    * column scan of the live store (the predicate and the two-column
    * projection push into parquet), then the usual O(match) tombstone
    * write. Resolved against the MASKED store: an id whose only live
    * version matches is tombstoned; ids already masked are not
    * re-tombstoned (idempotent under re-runs).
    */
  def deleteWhere(spark: SparkSession, path: String, pred: Column): Unit =
    Lease.withLease(spark, path, "deleteWhere") {
      Store.deleteWhere(spark, path,
        scanKind(committedKinds(spark, path)).getOrElse(PostingsKind),
        "vec_id", pred, "deleteWhere")
    }

  /** Replace vectors in place: tombstone the batch's ids (mutation seq
    * s), then append the new versions (seq s+1) — the delete-then-add
    * ordering. Serves see exactly the new version: old rows are masked
    * by the tombstone, new rows outrank it.
    */
  def upsertIvf(spark: SparkSession, path: String, batch: DataFrame,
                superProbe: Int = Similarity.defaultSuperProbe,
                metaCols: Seq[String] = Nil): Unit =
    upsertTo(spark, path, batch, superProbe, metaCols, PostingsKind, "upsertIvf")

  /** The compressed twin of [[upsertIvf]] (combined stores keep the raw
    * flavor in step through [[appendIvfPq]]).
    */
  def upsertIvfPq(spark: SparkSession, path: String, batch: DataFrame,
                  superProbe: Int = Similarity.defaultSuperProbe,
                  metaCols: Seq[String] = Nil): Unit =
    upsertTo(spark, path, batch, superProbe, metaCols, PqCodesKind, "upsertIvfPq")

  /** The scalar-quantized twin of [[upsertIvf]]. */
  def upsertIvfSq(spark: SparkSession, path: String, batch: DataFrame,
                  superProbe: Int = Similarity.defaultSuperProbe,
                  metaCols: Seq[String] = Nil): Unit =
    upsertTo(spark, path, batch, superProbe, metaCols, SqCodesKind, "upsertIvfSq")

  /** The deletion-mass hook — [[stats]]' tombstone twin, the compaction
    * trigger deletes add: every masked row is anti-join work each serve
    * repeats and dead bytes each probed scan still reads, both
    * reclaimed by [[compact]]. Counted at VERSION level — a stored
    * version is one (vec_id, ins_seq): a plain delete masks a vector's
    * only version; an upsert leaves one masked (dead) version plus one
    * live one, so `n_masked` is exactly the dead mass a compaction
    * reclaims, not "vectors ever touched". One row:
    * (n_versions_stored, n_tombstones, n_masked, masked_frac).
    */
  def deleteStats(spark: SparkSession, path: String): DataFrame =
    Store.deleteStats(spark, path,
      scanKind(committedKinds(spark, path)).getOrElse(PostingsKind), "vec_id",
      versions = true, "n_versions_stored")

  /** Per-vector symmetric int8 quantization — [[Similarity.int8TopK]]'s
    * exact convention (scale = max|x|, q = floor(x·127/scale + 0.5),
    * r = round(scale/norm, 9), zero-vector conventions pinned), packed
    * to one byte per dimension. Per-VECTOR scales mean the SQ store has
    * no frozen corpus-level quantizer at all: appends quantize
    * themselves, and only the coarse centroids freeze.
    */
  private def sqRows(emb: DataFrame): DataFrame =
    int8Rows(Similarity.normed(emb), col("v"), rescale(col("norm")),
      Seq(col("vec_id")))

  /** The int8 pack, the ONE site of the formula: per row, scale =
    * max|x|, qb = floor(x·127/scale + 0.5) packed one byte per
    * dimension (a zero vector packs against scale 1). Emits `keep`, qb,
    * `r` (an expression over the `scale` column) and `tail`.
    */
  private def int8Rows(df: DataFrame, x: Column, r: Column, keep: Seq[Column],
                       tail: Seq[Column] = Nil): DataFrame =
    df.withColumn("scale", VecQuant.maxAbs(x))
      .withColumn("safe_scale",
        when(col("scale") === 0d, lit(1.0)).otherwise(col("scale")))
      .select(keep ++ Seq(VecQuant.sqPack(x, col("safe_scale")).as("qb"),
        r.as("r")) ++ tail: _*)

  /** round(scale / norm, 9), 0 for a zero vector: the rescale factor of
    * the absolute codings' rank-only integer-dot score.
    */
  private def rescale(norm: Column): Column =
    round(when(norm === 0d, lit(0.0)).otherwise(col("scale") / norm), 9)

  /** Build + persist the SCALAR-QUANTIZED IVF store (cf. FAISS
    * IndexIVFScalarQuantizer, QT_8bit-style): cell-partitioned int8
    * code vectors — 1 byte/dim + an 8-byte rescale factor ≈ 8× smaller
    * than the raw `postings/` flavor, at near-flat recall (the
    * `ann_int8_recall` eval prices the quantization loss; contrast the
    * PQ store's 8-codes-per-vector compression and its ADC error).
    * The serving middle tier: PQ when bytes dominate, SQ when recall
    * does, raw when the refine needs exact cosines.
    */
  def saveIvfSq(emb: DataFrame, path: String, nCells: Int = 16,
                forceFlat: Boolean = false,
                superProbe: Int = Similarity.defaultSuperProbe,
                metaCols: Seq[String] = Nil,
                trained: Boolean = false,
                trainIters: Int = 3,
                withRaw: Boolean = false,
                residual: Boolean = false,
                insSeq: Long = 0L): Unit =
    Lease.withLease(emb.sparkSession, path, "saveIvfSq") {
    import emb.sparkSession.implicits._
    // the marker records the coding (a residual store ranked by the
    // absolute integer dot would be silently garbage) and the centroid
    // training; raw after the codes (the saveIvfPq withRaw contract)
    val sq = Sq(residual)
    build(emb, path, nCells, forceFlat, superProbe, metaCols, trained,
      trainIters, insSeq, sq +: (if (withRaw) Seq(Flat) else Nil),
      Seq(sq.marker -> Seq((residual, trained, trainIters, forceFlat))
        .toDF("residual", "trained", "train_iters", "flat")))
  }

  /** Refresh the SQ store without a rebuild: coarse-assign the batch
    * against the FROZEN stored centroids and quantize per-vector (the
    * SQ tier's refresh is the simplest of the three — there is no
    * corpus-level quantizer to freeze).
    */
  def appendIvfSq(spark: SparkSession, path: String, newEmb: DataFrame,
                  superProbe: Int = Similarity.defaultSuperProbe,
                  metaCols: Seq[String] = Nil): Unit =
    appendTo(spark, path, newEmb, superProbe, metaCols, SqCodesKind, "appendIvfSq")

  /** A query batch's QUANTIZED prefix rows (vec_id, qb, r) — the query
    * side of the MRL × SQ8 tier, packed exactly like the stored prefix
    * flavor ([[Mrl]]). One byte per kept dimension instead of eight: the
    * shortlist scan reads dims/(8·fullDims) of the raw postings bytes
    * (~2% at 16-of-64), and the full-width exact refine is unchanged.
    */
  private def mrlSqRows(emb: DataFrame, dims: Int): DataFrame =
    int8Rows(emb.select(col("vec_id"),
        slice(col("embedding").cast("array<double>"), 1, dims).as("pv"))
      .withColumn("pn", sqrt(VecFold.dot(col("pv"), col("pv")))),
      col("pv"), rescale(col("pn")), Seq(col("vec_id")))

  /** Build + persist the MATRYOSHKA serving tier: a cell-partitioned
    * PREFIX-DIMENSION flavor (`mrl_codes/`: vec_id, first-`prefixDims`
    * slice, prefix norm) co-located with the full-width raw postings —
    * the other compression axis modern embedding pipelines use
    * alongside SQ/PQ (Kusupati et al., "Matryoshka Representation
    * Learning": prefixes of an MRL-trained embedding are themselves
    * valid embeddings). The serve ([[ivfMrlRerankTopKIndexed]])
    * shortlists on prefix cosines — reading prefixDims/dim of the
    * postings bytes — and refines the nq·rerank shortlist at full
    * width. Cell assignment is FULL-dimension (the coarse quantizer is
    * shared with every other flavor), so probe semantics are identical
    * to the raw store's. Implemented as [[saveIvf]] (centroids +
    * ivf_meta + raw postings, same build knobs) plus the prefix flavor
    * derived from the just-written assignment — one extra
    * cell-partitioned write, no second assignment pass.
    */
  /** `quantized = true` builds the MRL × SQ8 COMBINED tier: the prefix
    * slice is additionally int8-quantized ([[mrlSqRows]]) — 1 byte per
    * kept dimension, so the shortlist reads ~dims/(8·fullDims) of the
    * raw bytes (~2% at 16-of-64 vs the raw prefix's 25%) and the
    * full-width refine is unchanged. The coding is recorded in
    * `mrl_meta` and every serve/append/rebuild dispatches from disk.
    */
  def saveIvfMrl(emb: DataFrame, path: String, prefixDims: Int = 16,
                 nCells: Int = 16,
                 forceFlat: Boolean = false,
                 superProbe: Int = Similarity.defaultSuperProbe,
                 metaCols: Seq[String] = Nil,
                 trained: Boolean = false,
                 trainIters: Int = 3,
                 quantized: Boolean = false,
                 insSeq: Long = 0L): Unit =
    Lease.withLease(emb.sparkSession, path, "saveIvfMrl") {
    require(prefixDims > 0, "prefixDims must be positive")
    import emb.sparkSession.implicits._
    // the prefix width AND coding are recorded: serves and appends must
    // slice and score exactly as the build did
    val mrl = Mrl(prefixDims, quantized)
    build(emb, path, nCells, forceFlat, superProbe, metaCols, trained,
      trainIters, insSeq, Seq(Flat, mrl), Seq(
        Flat.marker -> Seq((trained, trainIters, forceFlat))
          .toDF("trained", "train_iters", "flat"),
        mrl.marker -> Seq((prefixDims, quantized)).toDF("prefix_dims", "quantized")))
  }

  /** Refresh the MRL store without a rebuild: the batch is assigned
    * against the FROZEN stored centroids and sliced at the store's own
    * prefix width — like the SQ tier there is no corpus-level quantizer
    * to freeze, only the centroids and the recorded width. Both
    * flavors (prefix codes + raw refine) append under one mutation seq.
    */
  def appendIvfMrl(spark: SparkSession, path: String, newEmb: DataFrame,
                   superProbe: Int = Similarity.defaultSuperProbe,
                   metaCols: Seq[String] = Nil): Unit =
    appendTo(spark, path, newEmb, superProbe, metaCols, MrlCodesKind, "appendIvfMrl")

  /** The matryoshka upsert — [[upsertIvf]]'s delete-then-add ordering
    * over both MRL flavors.
    */
  def upsertIvfMrl(spark: SparkSession, path: String, batch: DataFrame,
                   superProbe: Int = Similarity.defaultSuperProbe,
                   metaCols: Seq[String] = Nil): Unit =
    upsertTo(spark, path, batch, superProbe, metaCols, MrlCodesKind, "upsertIvfMrl")

  /** The MATRYOSHKA serve: prefix-cosine shortlist from the stored
    * `mrl_codes/` (the scan reads prefixDims/dim of the raw bytes),
    * exact full-width refine from the co-located `postings/`. Output
    * matches [[ivfTopKIndexed]]: (query_id, neighbor_id, cosine, rank).
    */
  def ivfMrlRerankTopKIndexed(spark: SparkSession, path: String,
                              queries: DataFrame, k: Int, rerank: Int = 0,
                              nProbe: Int = 4,
                              candWhere: Column = lit(true)): DataFrame =
    serve(spark, path, queries, MrlCodesKind, k, nProbe, candWhere, rerank = Some(rerank))

  /** Answer a query batch from the stored SQ codes, ranked by the store's
    * own coding ([[Sq]]). Output (query_id, neighbor_id, score, rank) —
    * ONE contract for both codings; `score` is the dequantized cosine on
    * a residual store and the rescaled integer dot (a rank-only
    * surrogate, not a true cosine) on an absolute store. `asOfSeq` is
    * [[ivfTopKIndexed]]'s time-travel bound.
    */
  def ivfSqTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                       k: Int, nProbe: Int = 4,
                       candWhere: Column = lit(true),
                       asOfSeq: Option[Long] = None): DataFrame =
    serve(spark, path, queries, SqCodesKind, k, nProbe, candWhere, asOfSeq)

  /** A DIRECT re-save on an existing store path is an in-place rebuild:
    * the flat quantizer and marker dirs it writes must become live again,
    * so every versioned quantizer and `sq_meta` generation and every
    * store-level `commit_v<n>` marker from previous [[rebuild]]s is
    * dropped first.
    */
  private def retireQuantizerGenerations(spark: SparkSession,
                                         path: String): Unit = {
    Seq(CentroidsKind, CodewordsKind, SqMetaKind).foreach(retireGenerations(spark, path, _))
    dropStoreCommits(spark, path, all = true); ()
  }

  /** Compact a store's cell partitions back to one file per cell — every
    * coding the store carries. Every append adds one file per touched
    * cell; after many refresh cycles a hot cell is dozens of small files
    * and the serve scan pays per-file open/footer overhead — the same
    * small-files failure the build writer fixed, re-accumulating
    * incrementally. The rewrite purges tombstoned rows and consumes the
    * tombstone files it read; it is published like every replacement
    * ([[Store.compact]]): crash-safe (an unpublished rewrite is never
    * selected) and reader-safe (the previous generation survives as the
    * grace generation, so a serve planned before the flip completes —
    * ServeBench races one against the flip and pins checksum equality).
    * Content is unchanged — IndexSpec pins serve bit-equality across a
    * compaction for every flavor.
    */
  def compact(spark: SparkSession, path: String): Unit =
    Lease.withLease(spark, path, "compact") {
      Store.compact(spark, path,
        Seq(PostingsKind, PqCodesKind, SqCodesKind, MrlCodesKind), "cell",
        Nil, "vec_id", Tombstones.listFiles(spark, path))
    }

  /** The rebuild-decision hook: how far a refreshed store has drifted
    * from the cell budget a fresh build would get. `n_cells` is what the
    * store HAS (frozen at build); `auto_cells` is what
    * [[Similarity.autoCells]] would give the CURRENT corpus; their ratio
    * (`dilution`) multiplies the corpus fraction every serve reads
    * (probed fraction = nProbe / cells). SCALING.md's append-dilution
    * section measures what unchecked dilution costs — the operational
    * rule is to rebuild (alongside the [[Similarity.snapshotDrift]]
    * distribution check) once dilution crosses the serve's spill
    * headroom. One row: (n_vectors, n_cells, auto_cells, dilution).
    */
  def stats(spark: SparkSession, path: String, floorCells: Int = 16): DataFrame = {
    import spark.implicits._
    // flavor-aware like compact: a PQ-only store (saveIvfPq writes no
    // postings/) counts distinct vec_id over its codes instead
    val kind = scanKind(committedKinds(spark, path)).getOrElse(SqCodesKind)
    // the SERVED corpus: tombstoned rows are invisible to every serve
    // (their dead mass is [[deleteStats]]' column, not this one's)
    val live = Tombstones.mask(Store.read(spark, liveDir(spark, path, kind)),
      Tombstones.readAll(spark, path), "vec_id")
    val n =
      if (kind == PostingsKind) live.count()
      else live.select("vec_id").distinct().count()
    val nc = centroidArray(spark, path).length.toLong
    val auto = Similarity.autoCells(n, floorCells).toLong
    Seq((n, nc, auto)).toDF("n_vectors", "n_cells", "auto_cells")
      .withColumn("dilution",
        round(col("auto_cells").cast("double") / col("n_cells"), 4))
  }

  /** Self-REBUILD from the store's own raw flavor: the live, masked
    * postings are the corpus (vec_id, vector, metadata — upserts
    * resolved to their newest version, deletions dropped), so a store
    * that has drifted past its cell budget re-trains WITHOUT the
    * original source table: fresh autoCells centroids, fresh
    * assignment, every co-located flavor (raw / PQ / SQ) rewritten from
    * the one corpus read, tombstones retired by construction. Only
    * possible when `postings/` exists — the codes flavors are lossy
    * (a PQ/SQ-only store's rebuild needs the source corpus; that is the
    * price of not storing raw vectors, stated at [[saveIvfPq]]).
    *
    * CODING-PRESERVING: the rebuild re-invokes the saves with the
    * store's OWN recorded configuration (the `meta`/`sq_meta`/`ivf_meta`
    * markers: trained, residual, nSub, nCode, trainIters, AND the
    * flat-vs-two-level assignment mode — a flat-built store rebuilt
    * two-level past [[Similarity.twoLevelMinCells]] routes whole
    * families off-macro, measured recall 0.0 on the 1000× family
    * fixture) — the raw flavor is the training corpus, so nothing else
    * is needed. The
    * alternative (re-seeding with defaults) is a measured recall
    * collapse on clustered corpora (residual-PQ ADC 0.79 → absolute-
    * seeded ~0.07 at 1000×, BENCH_r12_tiers) that [[maintain]]'s cron
    * loop would trigger silently. Only the CELL budget resets — fresh
    * autoCells over the live corpus is the dilution fix that motivated
    * the rebuild.
    * READER-SAFE: the fresh store is built in a staging directory and
    * every kind — quantizers included — flips live at once in
    * [[Store.publish]]; a serve PLANNED before the flip completes against
    * the grace generation (ServeBench's `race_rebuild` row pins checksum
    * equality with the quiet serve at 100×).
    * Tombstones are NOT cleared (deleting them would break plans that
    * pinned their files): the rebuilt rows carry a freshly-bumped
    * `ins_seq` that outranks every existing `del_seq`, so the surviving
    * tombstones mask nothing and the next compaction consumes them.
    *
    * WRITE contract: READS are safe throughout, and the rebuild is a
    * MUTATION sharing the store's single-writer contract — but the
    * window is ENFORCED, not honor-system: the mutation counter and
    * committed-generation set are snapshotted when the corpus is read
    * and re-verified immediately before the commit-marker create
    * ([[Store.verifyUnmoved]]); an append/upsert/delete/compaction landing
    * in between aborts the rebuild LOUDLY with the staged output
    * discarded and the store unchanged — the racing mutation is never
    * silently absent from a published generation.
    */
  def rebuild(spark: SparkSession, path: String): Unit =
    rebuild(spark, path, () => ())

  /** Test seam: `midHook` runs after the staged build, immediately
    * before the publish-time conflict re-check — the specs inject a
    * racing mutation there to pin the loud-abort contract.
    */
  private[graft] def rebuild(spark: SparkSession, path: String,
                             midHook: () => Unit): Unit =
    Lease.withLease(spark, path, "rebuild") {
    import Ckpt.CutOps
    val snap = snapshotStore(spark, path)
    require(committedKinds(spark, path)(PostingsKind),
      s"self-rebuild needs the raw-vector flavor at $path — a codes-only " +
        "store must be rebuilt from the source corpus via rebuildFrom " +
        "(the reader-safe, coding-preserving re-grid; a bare save* " +
        "overwrites generations in place under live readers)")
    // ONE live-dir resolution + ONE mergeSchema read serve both the
    // corpus relation and the stored-metadata column set (each
    // mergeSchema read sweeps every data-file footer — doubled, it was
    // the rebuild's dominant driver-side cost, and at object-store scale
    // each sweep is one round-trip per file)
    val liveDirPath = liveDir(spark, path, PostingsKind)
    val stored = Store.read(spark, liveDirPath, mergeSchema = true)
    val live = Tombstones.mask(stored, Tombstones.readAll(spark, path),
      "vec_id")
    val meta = stored.schema.map(_.name).filterNot(postingsCore.contains)
    val corpus = live
      .select((Seq(col("vec_id"), col("v").as("embedding")) ++
        meta.map(col)): _*)
      .lineageCut // one materialized read feeds the saves' many passes
    stagedRebuild(spark, path, corpus, meta, withRaw = true, snap, midHook)
  }

  /** REBUILD from an EXTERNAL source corpus — the codes-only twin of
    * [[rebuild]]. A PQ/SQ-only store has no raw flavor to read its
    * corpus back from (the price of not storing raw vectors, stated at
    * [[saveIvfPq]]); this is the API that pays it: the same reader-safe
    * staged publish as [[rebuild]] (a bare save* over the old path
    * retires generations and overwrites IN PLACE — a serve planned
    * mid-save can hit deleted files, the exact failure the staged flip
    * exists to prevent), the build config read from the store's own
    * markers instead of the caller's memory of it, and a mutation
    * counter that stays monotonic (the republished rows outrank every
    * surviving tombstone; save* instead resets history). Also valid on
    * a raw-flavored store whose owner wants to re-grid onto a
    * refreshed corpus snapshot without losing reader safety. `corpus`
    * must carry (vec_id, embedding) plus every metadata column the
    * store was built with; the store keeps its flavor shape (no raw
    * flavor is created where none existed).
    *
    * DELETIONS ARE NOT REPLAYED: the supplied corpus is authoritative —
    * republished rows outrank every surviving tombstone by
    * construction, so a row previously deleted from the store is
    * RESURRECTED if the corpus still contains it. The corpus must
    * already exclude deleted rows (anti-join it against your deletion
    * ledger first, as `ann_ivfpq_rebuilt_from` does) — this matters
    * doubly on the [[maintain]]`(rebuildWith)` cron path, where a stale
    * corpus snapshot would quietly undo every delete since it was
    * taken.
    */
  def rebuildFrom(spark: SparkSession, path: String,
                  corpus: DataFrame): Unit =
    rebuildFrom(spark, path, corpus, () => ())

  /** Test seam — see [[rebuild]]'s `midHook`. */
  private[graft] def rebuildFrom(spark: SparkSession, path: String,
                                 corpus: DataFrame,
                                 midHook: () => Unit): Unit =
    Lease.withLease(spark, path, "rebuildFrom") {
    import Ckpt.CutOps
    val snap = snapshotStore(spark, path)
    val kinds = committedKinds(spark, path)
    val kind = scanKind(kinds).getOrElse(
      throw new IllegalArgumentException(s"no committed store at $path"))
    val core = Map(PostingsKind -> postingsCore, PqCodesKind -> pqCodesCore,
      SqCodesKind -> sqCodesCore)(kind)
    val meta = storedMetaCols(spark, liveDir(spark, path, kind), core)
    val missing = meta.filterNot(corpus.columns.contains)
    require(missing.isEmpty,
      s"rebuildFrom corpus lacks the store's metadata column(s) " +
        s"${missing.mkString(", ")} — a store rebuilt without them " +
        "would silently never match a filtered serve")
    val cut = corpus
      .select((Seq(col("vec_id"), col("embedding")) ++ meta.map(col)): _*)
      .lineageCut
    // RESURRECTION guard (deletions are not replayed — see scaladoc): a
    // corpus snapshot that still contains ids the store has tombstoned
    // will republish them outranking every tombstone. Legitimate when
    // the id was upserted (deleted-then-re-added) after the snapshot's
    // cut — silent data-loss-undo when the snapshot simply predates the
    // delete — so the mismatch warns LOUDLY instead of failing: one
    // broadcast semi-join count over the already-checkpointed corpus
    // (the tombstone side is delete-bounded), next to free beside the
    // corpus-scale rebuild itself.
    Tombstones.readAll(spark, path).foreach { t =>
      val resurrected = cut.join(
        broadcast(t.select("vec_id").distinct()), Seq("vec_id"), "left_semi")
        .count()
      if (resurrected > 0)
        System.err.println(s"[graft.Index] WARNING: rebuildFrom corpus " +
          s"for $path contains $resurrected id(s) the store has " +
          "tombstoned — rebuildFrom does NOT replay deletions, so these " +
          "rows will be RESURRECTED in the published generations. If " +
          "they were deleted (not upserted) after this corpus snapshot " +
          "was taken, anti-join the corpus against your deletion ledger " +
          "and re-run.")
    }
    stagedRebuild(spark, path, cut, meta, withRaw = kinds(PostingsKind),
      snap, midHook)
  }

  /** The staged rebuild behind [[rebuild]] and [[rebuildFrom]]: stage
    * every flavor in the store's own recorded configuration, stamped past
    * the tombstones, through [[Store.rebuildStaged]]'s fence and publish.
    * `corpus` columns: (vec_id, embedding, meta…), already lineage-cut.
    */
  private def stagedRebuild(spark: SparkSession, path: String,
                            corpus: DataFrame, meta: Seq[String],
                            withRaw: Boolean, snap: Store.StoreSnapshot,
                            midHook: () => Unit): Unit = {
    val kinds = committedKinds(spark, path)
    val pq = config(spark, path, "meta")
    val sq = config(spark, path, SqMetaKind)
    // the centroids' training AND assignment geometry (a flat-built store
    // re-assigned two-level routes whole families off-macro — recall 0.0
    // on the 1000x family fixture, SCALING.md) belong to the owner marker
    val owner =
      if (kinds(PqCodesKind)) pq
      else if (kinds(SqCodesKind)) sq
      else config(spark, path, "ivf_meta")
    // every flavor the store carries, from ONE fresh assignment in its
    // own coding; the store keeps its storage shape (no raw flavor is
    // created where none existed)
    val codings =
      (if (kinds(PqCodesKind)) Seq(Pq(pq, atBuild = true)) else Nil) ++
      (if (kinds(SqCodesKind)) Seq(Sq(sq.residual)) else Nil) ++
      (if (withRaw) Seq(Flat) else Nil) ++
      (if (kinds(MrlCodesKind)) Seq(codingOf(MrlCodesKind, spark, path)) else Nil)
    Store.rebuildStaged(spark, path, snap, midHook) { (stage, stampSeq) =>
      // only the CELL budget resets: fresh autoCells over the live corpus
      build(corpus, stage, nCells = 16, owner.flat, Similarity.defaultSuperProbe,
        meta, owner.trained, owner.trainIters, stampSeq, codings, markers = Nil)
      if (kinds(SqCodesKind) && (kinds(PqCodesKind) || withRaw)) {
        // a combined store's sq_meta follows the owner marker's `trained`
        // and `flat` fields (the coding itself is preserved). It is
        // STAGED: the publish makes it live with the rebuilt kinds under
        // the one commit marker, and a rebuild that aborts at the fence
        // leaves the store's marker as it was
        import spark.implicits._
        Seq((sq.residual, owner.trained, sq.trainIters, owner.flat))
          .toDF("residual", "trained", "train_iters", "flat")
          .write.mode("overwrite").parquet(s"$stage/$SqMetaKind")
      }
    }
  }

  /** The MAINTENANCE decision, closed over the three measured signals:
    *   - cell-budget dilution ([[stats]]) past `maxDilution` → a raw
    *     flavor permits [[rebuild]] (fresh cells, purge included); a
    *     codes-only store re-grids via [[rebuildFrom]] when the caller
    *     supplies `rebuildWith`, else reports `"rebuild-needed"` (the
    *     lexical store's contract) instead of silently skipping;
    *   - dead-version mass ([[deleteStats]]) past `maxMaskedFrac`, or
    *     per-cell fragmentation past `maxFilesPerCell` → [[compact]];
    *   - otherwise no action.
    * Returns what it did ("rebuild" | "compact" | "none") so an
    * operator's cron can log it. This is the loop the stats hooks exist
    * for — SCALING.md's rebuild/fragmentation/deletion sections price
    * each branch's cost and payoff at 100×/1000×.
    */
  def maintain(spark: SparkSession, path: String,
               maxDilution: Double = 2.0,
               maxMaskedFrac: Double = 0.2,
               maxFilesPerCell: Double = 8.0,
               rebuildWith: Option[DataFrame] = None,
               vacuumKeep: Option[Int] = None): String =
    maintainReport(spark, path, maxDilution, maxMaskedFrac,
      maxFilesPerCell, rebuildWith, vacuumKeep).head().getString(0)

  /** [[maintain]] with its EVIDENCE: the decision inputs are measured
    * anyway, and a cron operator that only sees "none"/"compact" cannot
    * alert on trend — dilution creeping toward the threshold, dead mass
    * accumulating, fragmentation growing — until the action fires. One
    * row, all inputs measured BEFORE the action runs:
    * (action, n_vectors, n_cells, auto_cells, dilution, masked_frac,
    * files_per_cell).
    *
    * `rebuildWith` precedence: a caller-supplied corpus snapshot wins
    * the dilution branch EVEN ON a raw-flavored store — supplying it
    * means "re-grid onto this refreshed corpus", and silently
    * self-rebuilding from the stale stored snapshot instead would
    * discard the refresh with no indication. Note [[rebuildFrom]]'s
    * deletion caveat: the supplied corpus must already exclude deleted
    * rows. Without `rebuildWith`, a raw flavor self-rebuilds and a
    * codes-only store reports `"rebuild-needed"`.
    *
    * `vacuumKeep = Some(n)` additionally runs [[Store.vacuum]]`(path, n)`
    * AFTER whatever action fired — the cron shape for reclaiming
    * superseded generations without a second scheduled job. Explicitly
    * opt-in because the keep count carries the grace-window contract
    * (`n = 2` is safe whenever compaction is; `n = 1` only after
    * pre-flip plans have drained). The action string is unchanged.
    */
  def maintainReport(spark: SparkSession, path: String,
                     maxDilution: Double = 2.0,
                     maxMaskedFrac: Double = 0.2,
                     maxFilesPerCell: Double = 8.0,
                     rebuildWith: Option[DataFrame] = None,
                     vacuumKeep: Option[Int] = None): DataFrame =
    Lease.withLease(spark, path, "maintain") {
    import spark.implicits._
    val kinds = committedKinds(spark, path)
    val st = stats(spark, path).head()
    val dilution = st.getDouble(3)
    val ds = deleteStats(spark, path).head()
    val maskedFrac = ds.getDouble(3)
    val kind = scanKind(kinds).get
    val files = Store.countDataFiles(spark, liveDir(spark, path, kind))
    val filesPerCell = files.toDouble / math.max(1L, st.getLong(1))
    val action =
      if (dilution > maxDilution) rebuildWith match {
        case Some(corpus) => rebuildFrom(spark, path, corpus); "rebuild"
        case None if kinds(PostingsKind) => rebuild(spark, path); "rebuild"
        // codes-only store past the dilution threshold with no corpus
        // supplied: report the need instead of silently falling through
        case None => "rebuild-needed"
      }
      else if (maskedFrac > maxMaskedFrac || filesPerCell > maxFilesPerCell) {
        compact(spark, path); "compact"
      } else "none"
    vacuumKeep.foreach { n => Store.vacuum(spark, path, n); () }
    Seq((action, st.getLong(0), st.getLong(1), st.getLong(2), dilution,
        maskedFrac, math.rint(filesPerCell * 10000) / 10000))
      .toDF("action", "n_vectors", "n_cells", "auto_cells", "dilution",
        "masked_frac", "files_per_cell")
  }

  /** The operator CRON SHAPE — one scheduled call per store per
    * maintenance window: acquire the [[Lease]] (so the tick can never
    * interleave with an out-of-band mutator — a second tick, a manual
    * rebuild, a stray append all fail loudly at acquisition), run
    * [[maintainReport]]'s measured decision + action, then [[Store.vacuum]]
    * superseded generations, all under ONE lease window. Returns the
    * evidence row extended with the vacuum's result:
    * (action, n_vectors, n_cells, auto_cells, dilution, masked_frac,
    * files_per_cell, generations_removed, bytes_reclaimed).
    *
    * `vacuumKeep` defaults to 2 — the standard one-flip grace window,
    * safe whenever [[compact]] itself is (pre-tick plans keep
    * executing). Schedule with `vacuumKeep = 1` only in a window where
    * every serve planned before the previous flip has drained.
    * SCALING.md's maintenance-loop section prices the branches.
    */
  def maintenanceTick(spark: SparkSession, path: String,
                      maxDilution: Double = 2.0,
                      maxMaskedFrac: Double = 0.2,
                      maxFilesPerCell: Double = 8.0,
                      rebuildWith: Option[DataFrame] = None,
                      vacuumKeep: Int = 2): DataFrame =
    Lease.withLease(spark, path, "maintenanceTick") {
      val report = maintainReport(spark, path, maxDilution, maxMaskedFrac,
        maxFilesPerCell, rebuildWith, vacuumKeep = None)
      report.crossJoin(Store.vacuum(spark, path, vacuumKeep))
    }

  /** DuckDB count-formula oracle for [[maintainReport]] over the
    * standard degraded-store fixture (built on `baseWhereSql` at
    * `nCellsBuilt` cells, appended with the rest, `deletedWhereSql`
    * tombstoned, maintain → rebuild) plus the post-rebuild [[stats]]:
    * every decision input is a pure formula — the physical file count
    * included, because each save/append writes exactly one file per
    * assigned-to cell (`repartition(cell)`), so files = distinct build
    * cells + distinct append cells under the replayed flat assignment.
    */
  /** `extraColsSql`: appended verbatim to the SELECT list — the
    * [[maintenanceTick]] oracle adds its count-formula
    * `generations_removed` column this way.
    */
  def maintainOracleSql(nCellsBuilt: Int, baseWhereSql: String,
                        deletedWhereSql: String,
                        floorCells: Int = 16,
                        extraColsSql: String = ""): String =
    s"""WITH ${Similarity.cellCtesSql(nCellsBuilt,
           centroidWhereSql = baseWhereSql)},
       |assigned AS (SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1),
       |vals AS (SELECT
       |  (SELECT count(*) FROM embeddings
       |   WHERE NOT ($deletedWhereSql))::BIGINT AS n_vectors,
       |  ${nCellsBuilt}::BIGINT AS n_cells,
       |  GREATEST($floorCells, (SELECT count(*) FROM embeddings
       |    WHERE NOT ($deletedWhereSql)) // 5000)::BIGINT AS auto_cells,
       |  (SELECT count(*) FROM embeddings)::BIGINT AS n_total,
       |  (SELECT count(*) FROM embeddings
       |   WHERE $deletedWhereSql)::BIGINT AS n_masked,
       |  ((SELECT count(DISTINCT cell) FROM assigned WHERE $baseWhereSql)
       |   + (SELECT count(DISTINCT cell) FROM assigned
       |      WHERE NOT ($baseWhereSql)))::BIGINT AS n_files)
       |SELECT 'rebuild' AS action, n_vectors, n_cells, auto_cells,
       |  round(auto_cells::DOUBLE / n_cells, 4) AS dilution,
       |  round(n_masked::DOUBLE / n_total, 4) AS masked_frac,
       |  round(n_files::DOUBLE / n_cells, 4) AS files_per_cell,
       |  n_vectors AS post_n_vectors,
       |  auto_cells AS post_n_cells,
       |  auto_cells AS post_auto_cells,
       |  1.0::DOUBLE AS post_dilution$extraColsSql
       |FROM vals""".stripMargin

  /** DuckDB oracle for [[ivfMrlRerankTopKIndexed]]: the shared flat
    * cell CTEs (full-dimension probes), a prefix-cosine shortlist over
    * the probed cells' truncated vectors, then the exact full-width
    * refine — the prefix-then-refine replay. `rerank <= 0` resolves
    * through the same [[Similarity.autoRerank]] rule as the serve.
    */
  def ivfMrlRerankTopKOracleSql(k: Int, dims: Int, rerank: Int = 0,
                                nCells: Int = 16, nProbe: Int = 4,
                                isQuerySql: String =
                                  Similarity.defaultIsQuerySql,
                                candWhereSql: String = "TRUE",
                                centroidWhereSql: String = "TRUE",
                                embExprSql: String = "embedding"): String =
    mrlOracleSql(k, dims, rerank, nCells, nProbe, isQuerySql, candWhereSql,
      centroidWhereSql, embExprSql, quantized = false)

  /** DuckDB oracle for the QUANTIZED MRL serve (`saveIvfMrl(quantized =
    * true)` → [[ivfMrlRerankTopKIndexed]]): the prefix slice is int8-
    * quantized with [[Similarity.int8TopK]]'s exact conventions, the
    * shortlist ranks by the integer code dot × the candidate's rescale
    * factor (exact in double — products and sums of |q| ≤ 127 integers
    * stay far under 2^53), and the refine is the same exact full-width
    * cosine as the raw-prefix oracle. `rerank <= 0` resolves through
    * [[Similarity.autoRerank]].
    */
  def ivfMrlSqRerankTopKOracleSql(k: Int, dims: Int, rerank: Int = 0,
                                  nCells: Int = 16, nProbe: Int = 4,
                                  isQuerySql: String =
                                    Similarity.defaultIsQuerySql,
                                  candWhereSql: String = "TRUE",
                                  centroidWhereSql: String = "TRUE",
                                  embExprSql: String = "embedding"): String =
    mrlOracleSql(k, dims, rerank, nCells, nProbe, isQuerySql, candWhereSql,
      centroidWhereSql, embExprSql, quantized = true)

  /** The two MRL oracles share everything but the prefix rows `pe` and
    * the shortlist score: prefix cosine (raw) or code dot × r (int8).
    */
  private def mrlOracleSql(k: Int, dims: Int, rerank: Int, nCells: Int,
                           nProbe: Int, isQuerySql: String,
                           candWhereSql: String, centroidWhereSql: String,
                           embExprSql: String, quantized: Boolean): String = {
    val prefix = s"(($embExprSql)::DOUBLE[])[1:$dims]"
    val (peSql, qpCols, scoreSql) =
      if (quantized) (
        s"""pe0 AS (
           |  SELECT vec_id, $prefix AS pv
           |  FROM embeddings),
           |pe1 AS (
           |  SELECT vec_id, pv, sqrt(list_dot_product(pv, pv)) AS pn,
           |         list_max(list_transform(pv, x -> abs(x))) AS scale
           |  FROM pe0),
           |pe AS (
           |  SELECT vec_id,
           |         list_transform(pv, x -> floor(x * 127.0 /
           |           (CASE WHEN scale = 0 THEN 1.0 ELSE scale END) + 0.5)) AS qb,
           |         round(CASE WHEN pn = 0 THEN 0.0 ELSE scale / pn END, 9) AS r
           |  FROM pe1)""".stripMargin,
        "qb AS qqb",
        "list_dot_product(x.qb, qp.qqb) * x.r")
      else (
        s"""pe AS (
           |  SELECT vec_id, $prefix AS pv,
           |         sqrt(list_dot_product($prefix,
           |                               $prefix)) AS pn
           |  FROM embeddings)""".stripMargin,
        "pv AS qpv, pn AS qpn",
        s"round(${Similarity.safeCosineSql(
          "list_dot_product(x.pv, qp.qpv)", "x.pn", "qp.qpn")}, 6)")
    s"""WITH ${Similarity.cellCtesSql(nCells,
           centroidWhereSql = centroidWhereSql,
           embExprSql = embExprSql)},
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell
       |  FROM ranks WHERE rnk <= $nProbe AND $isQuerySql),
       |$peSql,
       |qp AS (SELECT vec_id AS query_id, $qpCols FROM pe
       |       WHERE $isQuerySql),
       |prescored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, $scoreSql AS pscore
       |  FROM probes p
       |  JOIN assigned a ON a.cell = p.cell
       |  JOIN pe x ON x.vec_id = a.vec_id
       |  JOIN qp ON qp.query_id = p.query_id
       |  WHERE a.vec_id != p.query_id
       |    AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE $candWhereSql)),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |              ORDER BY pscore DESC, neighbor_id) AS srank
       |    FROM prescored)
       |  WHERE srank <= ${Similarity.autoRerank(k, rerank)}),
       |qq AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM e
       |       WHERE $isQuerySql),
       |refined AS (
       |  SELECT s.query_id, s.neighbor_id,
       |         round(${Similarity.safeCosineSql(
                  "list_dot_product(e.v, qq.qv)", "e.norm", "qq.qnorm")}, 6)
       |           AS cosine
       |  FROM short s
       |  JOIN e ON e.vec_id = s.neighbor_id
       |  JOIN qq ON qq.query_id = s.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM refined)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked
       |WHERE rank <= $k""".stripMargin
  }

  /** The distinct cells a query batch would probe — the measurement hook
    * for the pruning story (|probed| vs |cells| is the fraction of the
    * store a serve actually reads).
    */
  def probeCells(spark: SparkSession, path: String, queries: DataFrame,
                 nProbe: Int = 4): Array[Long] =
    new Serve(spark, path, queries, nProbe).cells

  /** TIME-TRAVEL candidate bound: restrict a serve's candidate rows to
    * those inserted at or before `asOfSeq` (build rows are seq 0, every
    * append/upsert stamps the mutation counter's value — the
    * [[Tombstones]] ordering contract). Stores predating the `ins_seq`
    * column hold only build rows, which every bound admits; a null
    * `ins_seq` inside a stamped store means the same (seq 0), hence the
    * explicit `isNull` arm — written as a bare-column OR rather than
    * `coalesce(ins_seq, 0) <= s` because parquet filter conversion
    * handles `Or(LessThanOrEqual, IsNull)` but not expressions over
    * coalesce: the bound must land in the scan's PushedFilters (PlanSpec
    * pins it), not in a post-scan filter over every probed row.
    */
  private def asOfCandidates(df: DataFrame,
                             asOfSeq: Option[Long]): DataFrame =
    asOfSeq.fold(df) { s =>
      require(s >= 0L, s"asOfSeq must be >= 0 (got $s); 0 is the build")
      if (df.columns.contains("ins_seq"))
        df.where(col("ins_seq") <= s || col("ins_seq").isNull)
      else df
    }

  /** The tombstone set visible at `asOfSeq`: deletes stamped AFTER the
    * bound have not happened yet in the travelled-to state and must not
    * mask anything. `None` = the current serve's full set.
    */
  private def asOfTombstones(spark: SparkSession, path: String,
                             asOfSeq: Option[Long]): Option[DataFrame] =
    Tombstones.readAll(spark, path).map { t =>
      asOfSeq.fold(t)(s => t.where(col("del_seq") <= s))
    }

  /** THE serve path behind every `*TopKIndexed` serve (the header's
    * "Serving" paragraph): the coding comes from the store's marker for
    * `kind`; `rerank = Some(r)` shortlists [[Similarity.autoRerank]]`(k,
    * r)` candidates by the coding's score and answers with [[refine]].
    */
  private def serve(spark: SparkSession, path: String, queries: DataFrame,
                    kind: String, k: Int, nProbe: Int, candWhere: Column,
                    asOfSeq: Option[Long] = None,
                    rerank: Option[Int] = None): DataFrame = {
    val s = new Serve(spark, path, queries, nProbe)
    val c = codingOf(kind, spark, path)
    val top = Similarity.topK(c.score(s.candidates(kind, candWhere, asOfSeq), s),
      rerank.fold(k)(Similarity.autoRerank(k, _)), c.order)
    if (rerank.isEmpty)
      top.select(col("query_id"), col("neighbor_id"), col(c.scoreCol), col("rank"))
    else refine(s, top.select("query_id", "neighbor_id"), k)
  }

  /** The exact refine of a shortlist (cf. FAISS IndexRefineFlat): ONLY the
    * shortlisted candidates' raw vectors are read from the co-located
    * `postings/` flavor and scored by the flat coding's exact cosine.
    * Query-bounded: the scan prunes to the probed cells the shortlist
    * came from and is broadcast-joined to the nq·rerank shortlist on
    * neighbor_id, so the refine costs the same at any corpus size. The
    * mask applies here too: an upserted id has a masked stale raw row
    * co-resident with its live one, and the id join would otherwise
    * refine against both.
    */
  private def refine(s: Serve, short: DataFrame, k: Int): DataFrame = {
    require(generations(s.spark, s.path, PostingsKind).nonEmpty,
      s"rerank serve needs the raw-vector flavor co-located at ${s.path} — " +
        "build the store with withRaw = true (or saveIvf on the same path)")
    val rows = s.candidates(PostingsKind, lit(true), None)
      .select(col("vec_id").as("neighbor_id"), col("v"), col("norm"))
      .join(broadcast(short), Seq("neighbor_id"))
    Similarity.topK(Flat.exact(rows, "neighbor_id", s), k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Answer a query batch from a stored IVF-Flat index: exact cosine over
    * the probed posting partitions. `queries` carries (vec_id,
    * embedding). Output: (query_id, neighbor_id, cosine, rank) —
    * bit-equal to [[Similarity.ivfTopK]] at every flat-assignment corpus.
    *
    * `candWhere` is FILTERED vector search (the label/language/tenant
    * predicate every production store supports): candidates failing the
    * predicate are cut BEFORE ranking, so the result is the true top-k
    * AMONG matches — not a rank-then-filter that can return fewer than k
    * while matches exist. The predicate references stored columns, so
    * it lands in the parquet scan next to the partition prune
    * (PushedFilters; metadata columns persist via [[saveIvf]]'s
    * `metaCols`) — at a 1% selectivity the serve reads 1% of the probed
    * postings bytes instead of filtering after a full candidate join.
    *
    * `asOfSeq` is a TIME-TRAVEL read (the Delta/Iceberg `VERSION AS OF`
    * shape on the store's own mutation counter): the serve answers from
    * the store state as of that sequence value — appended/upserted rows
    * stamped later are not candidates, tombstones stamped later do not
    * mask. `Some(0)` reads the build-time corpus; `None` (default) is
    * the current serve. The bound is two pushed predicates (`ins_seq`,
    * `del_seq`) over the already probe-pruned scan — zero extra reads,
    * zero extra shuffles, so a travelled serve costs what the current
    * serve costs at any corpus size. Reproducibility contract, not an
    * archive: a COMPACTION physically purges rows whose tombstone it
    * consumed and a REBUILD re-stamps every surviving row at its own
    * seq, so states older than the last compaction/rebuild have
    * collapsed to the collapse point (exactly Delta's
    * OPTIMIZE/VACUUM-bounded travel horizon) — pin serving states you
    * must reproduce by vacuum retention, as with any MVCC table.
    */
  def ivfTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                     k: Int, nProbe: Int = 4,
                     candWhere: Column = lit(true),
                     asOfSeq: Option[Long] = None): DataFrame =
    serve(spark, path, queries, PostingsKind, k, nProbe, candWhere, asOfSeq)

  /** Answer a query batch from a stored IVF-PQ index by ADC ([[Pq]]).
    * Output: (query_id, neighbor_id, adc_e9, rank) — bit-equal to
    * [[Similarity.ivfPqTopK]] at every flat-assignment corpus.
    */
  def ivfPqTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                       k: Int, nProbe: Int = 4,
                       candWhere: Column = lit(true)): DataFrame =
    serve(spark, path, queries, PqCodesKind, k, nProbe, candWhere)

  /** The production compressed-serve shape on the PERSISTED store (cf.
    * FAISS IndexIVFPQ + IndexRefineFlat; inline eval twin:
    * [[Similarity.ivfPqRerankTopK]]): an ADC shortlist from `pq_codes/`
    * alone, then the exact [[refine]] from the co-located `postings/`
    * ([[saveIvfPq]] `withRaw`). Output matches [[ivfTopKIndexed]],
    * bit-equal to the inline rerank at every flat-assignment corpus.
    * `rerank <= 0` resolves to the max(10·k, 40) depth rule
    * ([[Similarity.autoRerank]]): the old fixed 4·k default served
    * recall@10 = 0.49 on the separation-free jitter corpus while 10·k
    * recovers 1.0 at flat cost — the shortlist is query-bounded either
    * way, so the deeper default buys recall for ~nothing.
    */
  def ivfPqRerankTopKIndexed(spark: SparkSession, path: String,
                             queries: DataFrame, k: Int, rerank: Int = 0,
                             nProbe: Int = 4,
                             candWhere: Column = lit(true)): DataFrame =
    serve(spark, path, queries, PqCodesKind, k, nProbe, candWhere, rerank = Some(rerank))

  /** SQ8 shortlist + exact refine — the SQ tier's deployment
    * composition. The shortlist is the plain serve's coding-aware score,
    * so a residual store shortlists by its dequantized cosine. Where the
    * int8 resolution limit blurs within-family order (SCALING.md round
    * 12's tier matrix), the refine restores it at nq·rerank raw-vector
    * reads.
    */
  def ivfSqRerankTopKIndexed(spark: SparkSession, path: String,
                             queries: DataFrame, k: Int, rerank: Int = 0,
                             nProbe: Int = 4,
                             candWhere: Column = lit(true)): DataFrame =
    serve(spark, path, queries, SqCodesKind, k, nProbe, candWhere, rerank = Some(rerank))
}
