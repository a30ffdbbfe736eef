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
  * it ([[storedFlat]]); a rebuild re-trains from it and rewrites a
  * combined store's `sq_meta` to match.
  *
  * Mutation and publication state beside the data:
  *   - `tombstones/` (vec_id, del_seq) and `seq/` (the mutation counter
  *     as marker-file names) — [[Tombstones]];
  *   - `<kind>_v<n>/` — a later generation of any kind above (the flat
  *     directory is v0), committed by its own `_SUCCESS` ([[compact]])
  *     or by a store-level `commit_v<n>` file that flips every kind of a
  *     [[rebuild]] at once;
  *   - `_rebuild_stage/` — a rebuild's output before publication,
  *     invisible to the generation listing;
  *   - `_writer_lease` — the single-writer [[Lease]].
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

  private def centroidsPath(path: String) = s"$path/centroids"
  private def codewordsPath(path: String) = s"$path/codewords"

  /** The two compactable data families; everything else in a store
    * (centroids, codewords) is written once at build and never rewritten.
    */
  private[graft] val PostingsKind = "postings"
  private[graft] val PqCodesKind = "pq_codes"
  private[graft] val SqCodesKind = "sq_codes"
  private[graft] val MrlCodesKind = "mrl_codes"

  /** The build-artifact families a REBUILD replaces alongside the data
    * kinds. Versioned like the data kinds so a reader-safe rebuild can
    * publish fresh quantizers without deleting the generation a
    * pre-planned serve still holds file references into.
    */
  private[graft] val CentroidsKind = "centroids"
  private[graft] val CodewordsKind = "codewords"
  // "terms" is the LEXICAL store's second data family ([[LexIndex]]);
  // it shares this generation machinery, so the staged-rebuild publish
  // lists it too (a dense store simply never stages one)
  private val AllKinds =
    Seq(CentroidsKind, CodewordsKind, PostingsKind, PqCodesKind, SqCodesKind,
      MrlCodesKind, LexIndex.TermsKind)

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Version number of a data directory: the build writes the flat
    * `postings/` (version 0); every compaction publishes `postings_v<n>`.
    */
  private def versionOf(kind: String, name: String): Option[Int] =
    if (name == kind) Some(0)
    else if (name.startsWith(s"${kind}_v"))
      scala.util.Try(name.stripPrefix(s"${kind}_v").toInt).toOption
    else None

  /** All on-disk generations of `kind` under the store, committed or not,
    * as (version, path) — version 0 is the flat build directory.
    */
  private[graft] def generations(spark: SparkSession, path: String, kind: String)
      : Seq[(Int, org.apache.hadoop.fs.Path)] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .flatMap(st => versionOf(kind, st.getPath.getName).map(_ -> st.getPath))
  }

  private def isCommitted(spark: SparkSession,
                          p: org.apache.hadoop.fs.Path): Boolean = {
    val fs = fsOf(spark, p)
    // the flat build dir (v0) is committed by construction: save/append
    // write it directly and a reader only ever exists after a build.
    // Versioned dirs are committed by their _SUCCESS marker — compact's
    // atomic publish point (single-file create) — OR by a store-level
    // `commit_v<n>` marker: [[rebuild]] replaces EVERY kind in one
    // logical flip, so its generations carry no per-dir marker and
    // become live together the instant the one store-level file exists
    // (per-dir markers would expose a window where a plan mixes new
    // centroids with old postings — garbage probes, not stale data).
    if (!p.getName.contains("_v")) true
    else if (fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) true
    else {
      val name = p.getName
      val ver = name.substring(name.lastIndexOf("_v") + 2)
      fs.exists(new org.apache.hadoop.fs.Path(p.getParent, s"commit_v$ver"))
    }
  }

  /** Resolve the LIVE data directory for `kind`: the highest COMMITTED
    * generation. This is the crash-safety contract: a compaction that
    * died mid-write left an uncommitted `_v<n>` directory that no reader
    * ever selects, and the previous generation — still on disk — stays
    * live. Readers, appends, and stats all resolve through here.
    */
  private[graft] def liveDir(spark: SparkSession, path: String,
                             kind: String): String = {
    val committed = generations(spark, path, kind)
      .filter { case (_, p) => isCommitted(spark, p) }
    if (committed.isEmpty) s"$path/$kind" // fresh store: the build target
    else committed.maxBy(_._1)._2.toString
  }

  /** The kinds with a committed generation at `path`, from ONE listing
    * of the store root — what every store-wide operation dispatches on.
    */
  private def committedKinds(spark: SparkSession, path: String): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) Set.empty
    else {
      val dirs = fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
      AllKinds.filter(k => dirs.exists(p =>
        versionOf(k, p.getName).isDefined && isCommitted(spark, p))).toSet
    }
  }

  /** The kind a store-wide scan reads: the raw flavor if present, else
    * the PQ codes, else the SQ codes (an MRL store always carries raw).
    */
  private def scanKind(kinds: Set[String]): Option[String] =
    Seq(PostingsKind, PqCodesKind, SqCodesKind).find(kinds)

  /** LIVE quantizer directories — every read resolves through the
    * generation machinery (a rebuilt store's quantizers live in
    * `centroids_v<n>`; a never-rebuilt store falls through to the flat
    * build dir). Writes keep targeting the flat paths: a fresh build IS
    * generation 0, and [[rebuild]] renames its staged output into a
    * versioned dir instead of writing one directly.
    */
  private def centroidsDir(spark: SparkSession, path: String): String =
    liveDir(spark, path, CentroidsKind)
  private def codewordsDir(spark: SparkSession, path: String): String =
    liveDir(spark, path, CodewordsKind)

  /** Whether the store's PQ codes are residual-coded ([[saveIvfPq]]
    * `residual`); stores written before the marker existed are absolute.
    */
  private[graft] def isResidual(spark: SparkSession, path: String): Boolean =
    new Markers(spark, path).config("meta").residual

  /** A store's build configuration, read back from its marker table —
    * what [[rebuild]] must re-invoke the save with. Markers written
    * before a column existed fall back to that column's historical
    * default (those stores WERE built with the default).
    */
  private case class BuildMeta(residual: Boolean, trained: Boolean,
                               nSub: Int, nCode: Int, trainIters: Int,
                               flat: Boolean)

  /** The marker table's one row + column set, from ONE parquet read and
    * ONE collect job. The naive shape (separate `.select(name).head()`
    * per field, plus a second `spark.read` wherever the caller also
    * needs `.columns`) costs up to 7 footer-reads/jobs per metadata
    * probe — per-op marker reads measurably dominated the round-14
    * store-lifecycle queries (1.5-1.8× slowdown, VERDICT r14), and at
    * S3 scale every one is a small-object round-trip.
    */
  private def readMetaRow(spark: SparkSession, dir: String)
      : Option[(Set[String], org.apache.spark.sql.Row)] = {
    val mp = new org.apache.hadoop.fs.Path(dir)
    if (!fsOf(spark, mp).exists(mp)) None
    else {
      val df = spark.read.parquet(dir)
      Some((df.columns.toSet, df.head()))
    }
  }

  private def buildMetaOf(meta: Option[(Set[String],
                                        org.apache.spark.sql.Row)]): BuildMeta =
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
  private def storedFlat(spark: SparkSession, path: String,
                         markers: Markers): Boolean = {
    val owner = Seq("meta", "sq_meta").find { name =>
      val p = new org.apache.hadoop.fs.Path(s"$path/$name")
      fsOf(spark, p).exists(p)
    }.getOrElse("ivf_meta")
    // ONE marker read serves both the legacy-column check and the meta
    // row, shared with the coding that reads the same marker
    val meta = markers.row(owner)
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
        spark.read.parquet(centroidsDir(spark, path)).count() >=
          Similarity.twoLevelMinCells)
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

  /** The metadata columns a store was BUILT with, read from its parquet
    * schema (footer-only, no data scan). Appends derive their effective
    * metaCols from this instead of trusting the caller: an append that
    * omitted a build-time metadata column would write rows that read back
    * with null metadata, which a filtered serve silently never matches —
    * an operational trap, so the mismatch fails loudly at append time.
    */
  private[graft] def storedMetaCols(spark: SparkSession, dir: String,
                             core: Set[String]): Seq[String] =
    // mergeSchema: on a legacy mixed-schema store (pre-validation appends
    // that omitted metaCols) the UNION schema must decide the stored
    // metadata set — a single sampled footer could miss a metadata column
    // and wave through exactly the unfilterable append this check exists
    // to reject (compactKind reads with mergeSchema for the same reason)
    spark.read.option("mergeSchema", "true").parquet(dir)
      .schema.map(_.name).filterNot(core.contains)

  /** Validates + derives the effective metadata columns for an append:
    * the STORE's metadata set wins; the incoming batch must carry every
    * stored metadata column, and a caller-specified `metaCols` must match
    * the stored set exactly (passing extras the store lacks would fork
    * the on-disk schema).
    */
  private[graft] def appendMetaCols(spark: SparkSession, dir: String,
                             core: Set[String], newEmb: DataFrame,
                             callerMeta: Seq[String]): Seq[String] = {
    val stored = storedMetaCols(spark, dir, core)
    require(callerMeta.isEmpty || callerMeta.toSet == stored.toSet,
      s"append: metaCols ${callerMeta.mkString("[", ",", "]")} does not match " +
        s"the store's metadata columns ${stored.mkString("[", ",", "]")} — " +
        "appending with mismatched metadata would write rows a filtered " +
        "serve silently never matches")
    val missing = stored.filterNot(newEmb.columns.contains)
    require(missing.isEmpty,
      s"append: incoming batch lacks the store's metadata column(s) " +
        s"${missing.mkString(", ")} — the store was built with " +
        s"metaCols = ${stored.mkString("[", ",", "]")}")
    stored
  }

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

  /** A store's frozen quantizers, read lazily (a build reads them only
    * after writing them) and at most once per call.
    */
  private final class Quantizers(spark: SparkSession, dir: String) {
    lazy val cents: DataFrame = spark.read.parquet(centroidsDir(spark, dir))
    lazy val codewords: DataFrame = spark.read.parquet(codewordsDir(spark, dir))
  }

  /** A store's marker tables as one call sees them: each read at most
    * once ([[readMetaRow]]) however many codings consult it.
    */
  private final class Markers(spark: SparkSession, val path: String) {
    private val cache = scala.collection.mutable.Map[String,
      Option[(Set[String], org.apache.spark.sql.Row)]]()
    def row(name: String): Option[(Set[String], org.apache.spark.sql.Row)] =
      cache.getOrElseUpdate(name, readMetaRow(spark, s"$path/$name"))
    def config(name: String): BuildMeta = buildMetaOf(row(name))
  }

  /** One serve's query side, each part computed once: the quantizers,
    * the normalized queries `qn`, the (query_id, cell) probe pairs from
    * the exact flat scan over the stored centroids (ties and 9-dp
    * rounding exactly as the inline path), the probed-cell list the
    * candidate scan and the refine both prune to, and the exact kernel's
    * query projection `qv`.
    */
  private final class Serve(val spark: SparkSession, val path: String,
                            val queries: DataFrame, nProbe: Int) {
    val q = new Quantizers(spark, path)
    val qn: DataFrame = Similarity.normed(queries)
    val probes: DataFrame = {
      val cents = Similarity.collectCentroids(q.cents)
      Similarity.withCellRanks(qn, cents.length, keep = nProbe,
        twoLevelMin = Int.MaxValue, seedArr = cents)
        .select(col("vec_id").as("query_id"),
          explode(slice(col("cells"), 1, nProbe)).as("cell"))
    }
    lazy val cells: Array[Long] =
      probes.select("cell").distinct().collect().map(_.getLong(0))
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
    def rows(a: DataFrame, q: Quantizers): DataFrame
    /** Build only: train + persist the coding's own quantizer under
      * `dir`, after the assignment and before any rows are derived.
      */
    def train(emb: DataFrame, a: DataFrame, q: Quantizers, dir: String): Unit = ()
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
    def rows(a: DataFrame, q: Quantizers): DataFrame = a
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
    def rows(a: DataFrame, q: Quantizers): DataFrame =
      if (residual) int8Rows(residuals(a, q.cents), col("v"), col("scale"),
        Seq(col("vec_id"), col("cell")))
      else int8Rows(a, col("v"), rescale(col("norm")),
        Seq(col("vec_id"), col("cell")))
    override def scoreCol: String = "score"
    def score(c: DataFrame, s: Serve): DataFrame =
      if (residual) {
        val xh = c.join(broadcast(s.q.cents.select(col("cid").as("cell"), col("cv"))),
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
    def rows(a: DataFrame, q: Quantizers): DataFrame =
      if (atBuild && !cfg.trained) pqSeedCodesWithCell(a, cfg.nSub, cfg.nCode)
      else encodeCells(a.sparkSession,
        if (cfg.residual) residuals(a, q.cents) else a, q.codewords)
    override def train(emb: DataFrame, a: DataFrame, q: Quantizers,
                       dir: String): Unit = if (atBuild) {
      val spark = emb.sparkSession
      import spark.implicits._
      val codebook =
        if (cfg.residual) Similarity.pqTrainCodebook(
          residuals(a, q.cents).withColumnRenamed("v", "embedding"),
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
          .join(broadcast(s.q.cents.select(col("cid").as("cell"), col("cv"))), "cell")
          .join(qv, "query_id")
          .select(col("query_id"), col("cell"), VecQuant.sub(col("v"), col("cv")).as("rv"))
          .crossJoin(broadcast(s.q.codewords))
          .select(col("query_id"), col("cell"), col("sub"), col("code"), d2i(col("rv"))),
          Seq("query_id", "cell", "sub", "code"))
        else (qv.crossJoin(broadcast(s.q.codewords))
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
    def rows(src: DataFrame, q: Quantizers): DataFrame = {
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
  private def codingOf(kind: String, m: Markers): Coding =
    kind match {
      case PostingsKind => Flat
      case PqCodesKind => Pq(m.config("meta"))
      case SqCodesKind => Sq(m.config("sq_meta").residual)
      case MrlCodesKind => m.row("mrl_meta") match {
        case None => throw new IllegalArgumentException(
          s"no MRL marker at ${m.path}/mrl_meta — not an MRL store")
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
    val q = new Quantizers(spark, dir)
    val twoLevelMin = if (forceFlat) Int.MaxValue else Similarity.twoLevelMinCells
    val a =
      if (trained) {
        val stored = Similarity.collectCentroids(q.cents)
        assigned(emb, stored.length, twoLevelMin, superProbe, stored)
      } else assigned(emb, cells, twoLevelMin, superProbe)
    codings.foreach(_.train(emb, a, q, dir))
    if (insSeq == 0L) Tombstones.clear(spark, dir)
    codings.foreach { c =>
      val rows =
        if (c.fromPostings)
          c.rows(spark.read.parquet(liveDir(spark, dir, PostingsKind)), q)
        else withMeta(c.rows(a, q), emb, metaCols)
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
      val m = new Markers(spark, path)
      val q = new Quantizers(spark, path)
      val cents = Similarity.collectCentroids(q.cents)
      val a = assigned(batch, cents.length,
        if (storedFlat(spark, path, m)) Int.MaxValue
        else Similarity.twoLevelMinCells, superProbe, cents)
      val kinds =
        if (kind == PostingsKind) Seq(kind)
        else if (committedKinds(spark, path)(PostingsKind)) Seq(PostingsKind, kind)
        else Seq(kind)
      val coded = kinds.map { k =>
        val c = codingOf(k, m)
        val meta = appendMetaCols(spark, liveDir(spark, path, k), c.core,
          batch, metaCols)
        k -> withMeta(c.rows(a, q), batch, meta)
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
    * (9-dp-rounded subspace L2, smaller code id wins ties): the codebook
    * is grouped per subspace and sorted by code id driver-side
    * (constant-bounded: nSub·nCode rows) so the linear scan reproduces
    * the first-smallest-id tie-break. Output (vec_id, sub, code, cell).
    */
  private def encodeCells(spark: SparkSession, src: DataFrame,
                          codewords: DataFrame): DataFrame = {
    val bySub: Map[Long, Array[(Long, Array[Double])]] =
      codewords
        .select("sub", "code", "cw").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
        .groupBy(_._1)
        .map { case (m, rows) => m -> rows.map(r => (r._2, r._3)).sortBy(_._1) }
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

  /** The serving-path scan cut: restrict a cell-partitioned store to the
    * query batch's probed cells. The probe list is collected driver-side —
    * bounded by nq·nProbe (and by nCells), a QUERY-side quantity that
    * stays small at any corpus scale. TWO cuts compose: the read names
    * ONLY the probed partition directories (basePath + explicit paths —
    * full-store partition discovery lists every cell directory before
    * pruning, a driver cost that grows with the CELL COUNT; at a 2,500-
    * bucket lexical grid it quadrupled a 5-seed serve, and a 100-TB
    * store has orders of magnitude more cells than any serve probes),
    * and the literal isin on the partition column stays on top, keeping
    * the prune visible in the plan (PlanSpec pins PartitionFilters) and
    * guarding against a path-construction drift.
    */
  private[graft] def prunedToProbes(spark: SparkSession, dir: String,
                                    probeVals: Array[Long],
                                    partitionCol: String = "cell"): DataFrame = {
    import org.apache.hadoop.fs.Path
    val base = new Path(dir)
    val fs = fsOf(spark, base)
    // existence-filter the probed dirs: a probed cell can be empty (no
    // vector ever assigned there) and parquet refuses missing paths.
    // The probes are checked CONCURRENTLY (bounded pool): serially this
    // is one storage round-trip per probed cell — nq·nProbe of them per
    // serve, which at object-store latency dominates plan time long
    // before the scan starts. Order-preserving, so the read's path list
    // (and everything downstream) is byte-identical to the serial check.
    val paths = probeVals.map(v => new Path(base, s"$partitionCol=$v"))
    val dirs: Array[String] =
      if (paths.length <= 1) paths.filter(fs.exists).map(_.toString)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, paths.length))
        try {
          val checks = paths.map { p =>
            pool.submit(new java.util.concurrent.Callable[Boolean] {
              def call(): Boolean = fs.exists(p)
            })
          }
          paths.zip(checks).collect {
            case (p, f) if f.get() => p.toString
          }
        } catch {
          // preserve the serial path's error shape (an fs.exists IOException
          // propagated directly, not wrapped), and cancel still-queued
          // checks so one failed probe doesn't wait out the rest of the pool
          case e: java.util.concurrent.ExecutionException =>
            pool.shutdownNow()
            throw Option(e.getCause).getOrElse(e)
        } finally pool.shutdown()
      }
    val pruned =
      if (dirs.isEmpty) spark.read.parquet(dir).where(lit(false))
      else spark.read.option("basePath", dir).parquet(dirs.toSeq: _*)
    pruned.where(col(partitionCol).isin(probeVals.toSeq: _*))
  }

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
    Lease.withLease(spark, path, "delete") {
      Tombstones.write(spark, path, ids, "vec_id")
    }

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
    val kind = scanKind(committedKinds(spark, path)).getOrElse(PostingsKind)
    val ids = Tombstones.mask(
      spark.read.parquet(liveDir(spark, path, kind)),
      Tombstones.readAll(spark, path), "vec_id")
      .where(pred).select("vec_id").distinct()
    delete(spark, path, ids)
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
  def deleteStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val kind = scanKind(committedKinds(spark, path)).getOrElse(PostingsKind)
    // version-level view: one (vec_id, ins_seq) per stored version (the
    // PQ flavor repeats it nSub times)
    val vecs = spark.read.parquet(liveDir(spark, path, kind))
      .select(col("vec_id"),
        coalesce(col("ins_seq"), lit(0L)).as("ins_seq"))
      .distinct()
    val tomb = Tombstones.readAll(spark, path)
    // ONE pass over the store instead of two: tombstones pre-aggregated
    // to max(del_seq) per id (a version is masked iff SOME tombstone has
    // del_seq ≥ ins_seq ⟺ the max does), then stored + masked counted
    // from a single 1:≤1 left join — the separate count() and semi-join
    // count() each re-scanned the store; n_tombstones is the pre-agg's
    // own row count (= distinct tombstoned ids)
    val (nStored, nTomb, masked) = tomb match {
      case None => (vecs.count(), 0L, 0L)
      case Some(t) =>
        // n_tombstones counts ALL distinct tombstoned ids — present in
        // the store or not — so it comes from the pre-agg itself, not
        // from the join (an unmatched tombstone never appears there)
        val tt = t.groupBy(col("vec_id").as("__tomb_id"))
          .agg(max("del_seq").as("__tomb_seq"))
        val row = vecs.join(tt,
            vecs("vec_id") === tt("__tomb_id"), "left")
          .agg(count(lit(1)).as("stored"),
            count(when(col("__tomb_seq") >= col("ins_seq"), lit(1)))
              .as("masked"))
          .head()
        (row.getLong(0), tt.count(), row.getLong(1))
    }
    Seq((nStored, nTomb, masked))
      .toDF("n_versions_stored", "n_tombstones", "n_masked")
      .withColumn("masked_frac",
        round(col("n_masked").cast("double") / col("n_versions_stored"), 4))
  }

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

  /** Drop every generation of `kind` (used by an in-place REBUILD: the
    * overwrite save targets the flat v0 directory, so stale higher
    * versions from a previous store's compactions must not outrank it).
    * Shared with [[LexIndex.saveLexical]], whose rebuild has the same
    * stale-generation exposure.
    */
  private[graft] def retireGenerations(spark: SparkSession, path: String,
                                       kind: String): Unit =
    generations(spark, path, kind).foreach { case (_, p) =>
      fsOf(spark, p).delete(p, true); ()
    }

  /** A DIRECT re-save on an existing store path is an in-place rebuild:
    * the flat quantizer dirs it writes must become live again, so every
    * versioned quantizer generation and every store-level `commit_v<n>`
    * marker from previous [[rebuild]]s is dropped first.
    */
  private def retireQuantizerGenerations(spark: SparkSession,
                                         path: String): Unit = {
    retireGenerations(spark, path, CentroidsKind)
    retireGenerations(spark, path, CodewordsKind)
    dropStoreCommits(spark, path); ()
  }

  /** Drop the store-level `commit_v<n>` markers whose version is not in
    * `keep`: every one on an in-place rebuild (a stale marker could
    * falsely commit a later publish's crashed, uncommitted generation
    * reusing the number), the ones no surviving generation needs after a
    * publish or [[vacuum]]. Returns the bytes removed.
    */
  private[graft] def dropStoreCommits(spark: SparkSession, path: String,
                                      keep: Set[String] = Set.empty): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) 0L
    else fs.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("commit_v") &&
        !keep.contains(st.getPath.getName.stripPrefix("commit_v")))
      .map { st => fs.delete(st.getPath, false); st.getLen }.sum
  }

  /** Append-vs-compaction fence. The refresh paths resolve the live
    * generation, write into it, then MUST observe the same generation
    * still live: a compaction whose source listing predates the append
    * (or a flip landing between resolve and write) strands the appended
    * files in the retired/grace generation — [[liveDir]] never serves
    * them and the next compaction deletes them, a silent-data-loss
    * window. The store's write contract is single-writer (appends and
    * compact must not interleave); this fence turns a violated contract
    * into a loud failure instead of lost rows. On failure the append DID
    * NOT take effect if the flip preceded the write's visibility — but a
    * compaction that listed mid-write may have folded part of the batch
    * in, so the safe recovery is: quiesce the compactor, check the live
    * generation for the batch's ids, re-append what is missing. On a
    * COMBINED store (PQ/SQ/MRL + raw) an append is two fenced writes
    * sharing one seq, and every coding appends in ONE order: the RAW
    * refine flavor FIRST. A crash (or fence abort) between the writes
    * then leaves the benign asymmetry — an id present in postings but
    * missing from the codes flavor is merely never SHORTLISTED (and
    * still serves through every raw-flavor path), whereas the reverse
    * order leaves coded rows whose refine join silently drops them from
    * every rerank result (recall loss with no error). Recovery must also
    * check the SIBLING flavor for the batch's ids: re-run the append, or
    * compare the two flavors' vec_id sets at this seq and re-append the
    * difference.
    */
  private[graft] def fencedAppend(spark: SparkSession, path: String,
                                  kind: String)(write: String => Unit): Unit = {
    val live = liveDir(spark, path, kind)
    write(live)
    val after = liveDir(spark, path, kind)
    if (after != live)
      throw new IllegalStateException(
        s"append raced a compaction on $path/$kind: wrote into $live but " +
          s"$after is now live, so the appended rows are stranded in a " +
          "retired generation and will NOT be served. Appends and compact " +
          "are single-writer — quiesce the compactor, verify which of the " +
          "batch's rows reached the live generation, and re-append the rest.")
  }

  /** What a rebuild must observe UNCHANGED between reading its corpus
    * and publishing its generations: the mutation counter (every
    * append/delete/upsert bumps it — [[Tombstones.nextSeq]]) and the
    * committed-generation set (a compaction flip changes it without
    * bumping the counter). Together they cover every mutation the
    * store's single-writer contract forbids during the rebuild window.
    */
  private[graft] case class StoreSnapshot(seq: Long, gens: Set[String])

  private[graft] def snapshotStore(spark: SparkSession,
                                   path: String): StoreSnapshot =
    StoreSnapshot(
      Tombstones.currentSeq(spark, path),
      AllKinds.flatMap(k => generations(spark, path, k)
        .filter { case (_, p) => isCommitted(spark, p) }
        .map { case (_, p) => p.getName }).toSet)

  /** The rebuild-vs-mutator fence — [[fencedAppend]]'s twin for the
    * other side of the single-writer contract. A rebuild reads the
    * corpus at time T and publishes at time T+hours (at 100 TB the
    * staged build IS hours); a mutation landing in between mutated a
    * snapshot the rebuild had already read, so the new generations
    * would silently lack it — the honor-system window round 13
    * documented ("quiesce mutators") is here turned into a loud abort:
    * the staged output is discarded, the store is untouched (it still
    * serves every mutation), and the caller re-runs the rebuild after
    * actually quiescing its mutators. Checked BEFORE the commit-marker
    * create, so a failed rebuild can never half-publish.
    */
  private[graft] def verifyUnmoved(spark: SparkSession, path: String,
                                   snap: StoreSnapshot, stampSeq: Long,
                                   stage: String, what: String): Unit = {
    moved(spark, path, snap, stampSeq).foreach { seqNow =>
      abortRaced(spark, path, stage, what,
        s"the store's mutation counter moved $stampSeq -> $seqNow (or a " +
          "compaction flipped a generation)")
    }
  }

  /** The store's current mutation seq if it moved past `stampSeq` or a
    * committed generation changed since `snap`, else None.
    */
  private def moved(spark: SparkSession, path: String, snap: StoreSnapshot,
                    stampSeq: Long): Option[Long] = {
    val seqNow = Tombstones.currentSeq(spark, path)
    if (seqNow != stampSeq || snapshotStore(spark, path).gens != snap.gens)
      Some(seqNow)
    else None
  }

  private def dropDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  private[graft] def abortRaced(spark: SparkSession, path: String,
                                stage: String, what: String,
                                detail: String): Nothing = {
    dropDir(spark, stage)
    throw new IllegalStateException(
      s"$what raced a concurrent mutation on $path: $detail after the " +
        s"$what read its inputs, so the staged output would silently " +
        "lack that mutation. Rebuilds/folds and mutators are " +
        "single-writer — the staged output was discarded and the store " +
        "is UNCHANGED (it still serves every mutation, including the " +
        "racing one); quiesce appends/deletes/upserts/compactions and " +
        s"re-run the $what.")
  }

  /** Compact a store's cell partitions back to one file per cell — both
    * flavors, whichever of `postings/` / `pq_codes/` the store carries.
    * Every append adds one file per touched cell; after many refresh
    * cycles a hot cell is dozens of small files and the serve scan pays
    * per-file open/footer overhead — the same small-files failure the
    * build writer fixed, re-accumulating incrementally.
    *
    * Publication is VERSIONED, not rename-swapped: the compacted layout
    * lands in a fresh `<kind>_v<n+1>` directory and becomes live the
    * instant its `_SUCCESS` marker commits (one atomic file create —
    * [[liveDir]] only ever selects committed generations). This buys the
    * two safety properties a rename swap lacks:
    *   - CRASH safety: a compaction that dies mid-write leaves an
    *     uncommitted directory no reader selects; the store never passes
    *     through a state where the live data is missing or partial.
    *   - READER safety: the PREVIOUS generation stays on disk until the
    *     NEXT compaction retires it, so a serve planned against the old
    *     listing (parquet readers pin file paths at plan time) executes
    *     to completion even if the flip happens mid-query — no
    *     FileNotFoundException window. ServeBench races a pre-planned
    *     serve against the flip and pins checksum equality at 100×.
    * Cost: up to one retained previous generation (≤ 2× kind bytes
    * between compactions) — the standard MVCC trade every table format
    * (Iceberg/Delta snapshots) makes.
    * Content is unchanged — IndexSpec pins serve bit-equality across a
    * compaction for both flavors. The rewrite reads with mergeSchema so
    * a store whose files disagree on metadata columns (possible only for
    * stores written before appends validated metaCols) compacts to the
    * union schema instead of silently dropping metadata.
    */
  def compact(spark: SparkSession, path: String): Unit =
    Lease.withLease(spark, path, "compact") {
    // tombstone consumption: list ONCE, purge masked rows from every
    // flavor's rewrite, then delete exactly the listed files — a delete
    // landing after the listing keeps masking at serve time and is
    // consumed by the NEXT compaction instead of being silently dropped
    val consumed = Tombstones.listFiles(spark, path)
    val tomb = Tombstones.readFiles(spark, consumed)
    Seq(PostingsKind, PqCodesKind, SqCodesKind, MrlCodesKind)
      .foreach(compactKind(spark, path, _, "cell", Nil, tomb, "vec_id"))
    Tombstones.deleteFiles(spark, path, consumed)
    // fold the mutation-counter markers too: compaction is the store's
    // periodic housekeeping window, and nothing else prunes seq/
    Tombstones.collapseSeq(spark, path)
  }

  /** One kind's compaction cycle (shared with [[LexIndex]], whose posting
    * store is bucket- rather than cell-partitioned). `sortCols`: in-file
    * order the rewrite restores (lexical postings re-sort by term hash so
    * row-group min/max stats keep the serve's term-predicate pushdown
    * selective; the ANN stores have no in-file order contract). `purge`:
    * tombstones to fold into the rewrite — masked rows are physically
    * dropped from the new generation (the caller consumes the
    * corresponding tombstone files after every kind is rewritten).
    */
  private[graft] def compactKind(spark: SparkSession, path: String,
                                 kind: String, partitionCol: String,
                                 sortCols: Seq[String] = Nil,
                                 purge: Option[DataFrame] = None,
                                 purgeIdCol: String = "vec_id"): Unit = {
    import org.apache.hadoop.fs.Path
    val gens = generations(spark, path, kind)
    if (gens.exists { case (_, p) => isCommitted(spark, p) }) {
      val src = liveDir(spark, path, kind)
      // next version past EVERY on-disk generation, committed or not —
      // a crashed compaction's leftover is simply overwritten later,
      // never reused as-is
      val next = gens.map(_._1).max + 1
      val dst = s"$path/${kind}_v$next"
      val rewritten = Tombstones.mask(
        spark.read.option("mergeSchema", "true").parquet(src),
        purge, purgeIdCol)
        .repartition(col(partitionCol))
      // sort by (partitionCol, sortCols...): the partition-column prefix
      // satisfies the dynamic-partition write's required ordering, so the
      // write adds NO second sort, and within each partition's file the
      // rows still come out sortCols-ordered (partitionCol is constant
      // there) — one local sort instead of two
      (if (sortCols.isEmpty) rewritten
       else rewritten.sortWithinPartitions(
         (partitionCol +: sortCols).map(col): _*))
        .write.mode("overwrite").partitionBy(partitionCol).parquet(dst)
      val dstPath = new Path(dst)
      val fs = fsOf(spark, dstPath)
      // the publish point: ensure the commit marker exists even when
      // the committer was configured not to write one
      val marker = new Path(dstPath, "_SUCCESS")
      if (!fs.exists(marker)) { fs.create(marker).close() }
      // retire everything older than the generation readers may still
      // hold plans against: keep dst (live) + src (grace window).
      // Compare by directory NAME — generation paths from the fs
      // listing carry a scheme (file:/…) the constructed strings lack.
      val keep = Set(dstPath.getName, new Path(src).getName)
      generations(spark, path, kind).foreach { case (_, p) =>
        if (!keep.contains(p.getName)) { fs.delete(p, true); () }
      }
    }
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
    val live = Tombstones.mask(spark.read.parquet(liveDir(spark, path, kind)),
      Tombstones.readAll(spark, path), "vec_id")
    val n =
      if (kind == PostingsKind) live.count()
      else live.select("vec_id").distinct().count()
    val nc = spark.read.parquet(centroidsDir(spark, path)).count()
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
    * READER-SAFE: the fresh store is built in a staging directory under
    * the store root (invisible to the generation listing), then every
    * kind — quantizers included — is renamed into a `<kind>_v<n>`
    * generation and published by ONE store-level `commit_v<n>` marker
    * (single atomic file create). Until that instant every reader
    * resolves the old generations; after it, all kinds flip together —
    * no window where a plan can mix new centroids with old postings. A
    * serve PLANNED before the flip executes to completion against the
    * previous generation, which stays on disk as the grace generation
    * (the [[compact]] contract; ServeBench's `race_rebuild` row pins
    * checksum equality with the quiet serve at 100×).
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
    * ([[verifyUnmoved]]); an append/upsert/delete/compaction landing
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
    val stored = spark.read.option("mergeSchema", "true").parquet(liveDirPath)
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

  /** The shared staged-rebuild machinery behind [[rebuild]] and
    * [[rebuildFrom]]: stage every flavor in the store's own recorded
    * configuration, stamp past the tombstones, publish atomically.
    * `corpus` columns: (vec_id, embedding, meta…), already lineage-cut.
    */
  private def stagedRebuild(spark: SparkSession, path: String,
                            corpus: DataFrame, meta: Seq[String],
                            withRaw: Boolean, snap: StoreSnapshot,
                            midHook: () => Unit): Unit = {
    val kinds = committedKinds(spark, path)
    val markers = new Markers(spark, path)
    // read every flavor's build config BEFORE any marker is rewritten
    val pq = markers.config("meta")
    val sq = markers.config("sq_meta")
    // the centroids' training AND assignment geometry (a flat-built store
    // re-assigned two-level routes whole families off-macro — recall 0.0
    // on the 1000x family fixture, SCALING.md) belong to the owner marker
    val owner =
      if (kinds(PqCodesKind)) pq
      else if (kinds(SqCodesKind)) sq
      else markers.config("ivf_meta")
    // every flavor the store carries, from ONE fresh assignment in its
    // own coding; the store keeps its storage shape (no raw flavor is
    // created where none existed)
    val codings =
      (if (kinds(PqCodesKind)) Seq(Pq(pq, atBuild = true)) else Nil) ++
      (if (kinds(SqCodesKind)) Seq(Sq(sq.residual)) else Nil) ++
      (if (withRaw) Seq(Flat) else Nil) ++
      (if (kinds(MrlCodesKind)) Seq(codingOf(MrlCodesKind, markers)) else Nil)
    // rows republished under surviving tombstones must outrank them
    val stampSeq = Tombstones.nextSeq(spark, path)
    val stage = s"$path/_rebuild_stage"
    // a mutation that slipped in between the caller's snapshot and this
    // bump already raced the corpus read — abort BEFORE paying for the
    // staged build, same contract as the publish-time check
    if (stampSeq != snap.seq + 1)
      abortRaced(spark, path, stage, "rebuild",
        s"the store's mutation counter moved ${snap.seq} -> " +
          s"${stampSeq - 1} between the corpus snapshot and the rebuild " +
          "stamp")
    dropDir(spark, stage) // a crashed rebuild's leftover stage is dead weight
    // only the CELL budget resets: fresh autoCells over the live corpus
    build(corpus, stage, nCells = 16, owner.flat, Similarity.defaultSuperProbe,
      meta, owner.trained, owner.trainIters, stampSeq, codings, markers = Nil)
    if (kinds(SqCodesKind) && (kinds(PqCodesKind) || withRaw)) {
      // a combined store's sq_meta is updated IN PLACE at the real path
      // (markers are coding-preserved — only the `trained`/`flat`
      // ownership fields can move — and serves read them eagerly at plan
      // time, so pre-planned serves are unaffected)
      import spark.implicits._
      Seq((sq.residual, owner.trained, sq.trainIters, owner.flat))
        .toDF("residual", "trained", "train_iters", "flat")
        .write.mode("overwrite").parquet(s"$path/sq_meta")
    }
    midHook()
    // the conflict fence, BEFORE the atomic flip: at 100 TB the staged
    // build is hours long, and "quiesce mutators" without enforcement is
    // how production stores silently lose writes
    verifyUnmoved(spark, path, snap, stampSeq, stage, "rebuild")
    publishStage(spark, path, stage, recheck = Some((snap, stampSeq)))
  }

  /** Flip a staged rebuild live: rename every staged kind into the next
    * generation number (shared across kinds), commit them all with ONE
    * `commit_v<n>` marker file, then retire everything older than the
    * grace generation a pre-planned serve may still read from. Per-dir
    * `_SUCCESS` markers are stripped before the renames — a staged dir
    * must not self-commit ahead of its siblings, or a plan built
    * between renames would mix generations of different kinds.
    *
    * `recheck = Some((snap, stampSeq))` re-verifies the conflict fence
    * IMMEDIATELY before the commit-marker create — after the renames,
    * which can take real time on an object store. A mutation landing
    * between [[verifyUnmoved]] and the flip would otherwise be silently
    * absent from the published generations; at this point the renamed
    * dirs are still uncommitted (marker-less — no reader selects them),
    * so aborting only needs to delete them and the store is unchanged.
    * The residual window is the single marker create itself; the
    * [[Lease]] closes it for every API writer (a mutator cannot even
    * start while the rebuild holds the lease), leaving this recheck as
    * defense-in-depth against lease-bypassing writers.
    */
  private[graft] def publishStage(spark: SparkSession, path: String,
                           stage: String,
                           recheck: Option[(StoreSnapshot, Long)] = None)
      : Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val kinds = AllKinds.filter(k => fs.exists(new Path(s"$stage/$k")))
    // the pre-flip live generation per kind — kept as the grace window
    val prevLive: Map[String, Option[Path]] = kinds.map { k =>
      k -> generations(spark, path, k)
        .filter { case (_, p) => isCommitted(spark, p) }
        .sortBy(_._1).lastOption.map(_._2)
    }.toMap
    val n = 1 + kinds.flatMap(k => generations(spark, path, k).map(_._1))
      .foldLeft(0)(math.max)
    kinds.foreach { k =>
      fs.delete(new Path(s"$stage/$k/_SUCCESS"), false)
      require(fs.rename(new Path(s"$stage/$k"), new Path(s"$path/${k}_v$n")),
        s"rebuild publish: rename of $k into generation v$n failed at $path")
    }
    // last-instant fence re-check (see scaladoc): the renamed dirs are
    // uncommitted, so aborting here deletes them and nothing else moved
    for ((snap, stampSeq) <- recheck; seqNow <- moved(spark, path, snap, stampSeq)) {
      kinds.foreach { k =>
        fs.delete(new Path(s"$path/${k}_v$n"), true); ()
      }
      abortRaced(spark, path, stage, "rebuild",
        s"the store's mutation counter moved $stampSeq -> $seqNow (or " +
          "a compaction flipped a generation) between the staged " +
          "renames and the commit-marker create")
    }
    fs.create(new Path(root, s"commit_v$n")).close() // THE atomic flip
    kinds.foreach { k =>
      val keep = Set(s"${k}_v$n") ++ prevLive(k).map(_.getName)
      generations(spark, path, k).foreach { case (_, p) =>
        if (!keep.contains(p.getName)) { fs.delete(p, true); () }
      }
    }
    // prune store-level commit markers no surviving generation needs
    val keepVers: Set[String] = Set(n.toString) ++ prevLive.values.flatten
      .map(_.getName).filter(_.contains("_v"))
      .map(nm => nm.substring(nm.lastIndexOf("_v") + 2))
    dropStoreCommits(spark, path, keepVers)
    fs.delete(new Path(stage), true); ()
  }

  /** The MAINTENANCE decision, closed over the three measured signals:
    *   - cell-budget dilution ([[stats]]) past `maxDilution` → a raw
    *     flavor permits [[rebuild]] (fresh cells, purge included); a
    *     codes-only store re-grids via [[rebuildFrom]] when the caller
    *     supplies `rebuildWith`, else reports `"rebuild-needed"` (the
    *     [[LexIndex.maintain]] contract) instead of silently skipping;
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
    * `vacuumKeep = Some(n)` additionally runs [[vacuum]]`(path, n)`
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
    val files = countDataFiles(spark, liveDir(spark, path, kind))
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
    vacuumKeep.foreach { n => vacuum(spark, path, n); () }
    Seq((action, st.getLong(0), st.getLong(1), st.getLong(2), dilution,
        maskedFrac, math.rint(filesPerCell * 10000) / 10000))
      .toDF("action", "n_vectors", "n_cells", "auto_cells", "dilution",
        "masked_frac", "files_per_cell")
  }

  /** The operator CRON SHAPE — one scheduled call per store per
    * maintenance window: acquire the [[Lease]] (so the tick can never
    * interleave with an out-of-band mutator — a second tick, a manual
    * rebuild, a stray append all fail loudly at acquisition), run
    * [[maintainReport]]'s measured decision + action, then [[vacuum]]
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
      report.crossJoin(vacuum(spark, path, vacuumKeep))
    }

  /** Reclaim SUPERSEDED generations — the explicit end of the MVCC
    * story. Every publish ([[compact]]'s versioned flip, [[rebuild]]'s
    * staged one) retires generations older than its grace window, but a
    * store that is rebuilt once and then only APPENDED keeps its
    * superseded full-size generation forever: nothing else runs a
    * publish to retire it — a storage leak worth ~1× the store at
    * 100-TB sizes. `vacuum` deletes, per kind, every generation below
    * the newest `keepGenerations` committed ones (crashed publishes'
    * uncommitted leftovers below the live generation included), prunes
    * store-level commit markers no surviving generation needs, and
    * collapses the mutation-counter markers. All through the Hadoop FS.
    *
    * GRACE-WINDOW contract: `keepGenerations = 1` keeps ONLY the live
    * generation — correct in the maintenance window after every serve
    * planned before the last flip has drained (a parquet plan pins file
    * paths; vacuuming its generation while it still runs is the
    * FileNotFoundException the grace window exists to prevent). Serves
    * PLANNED AFTER the last flip read the live generation and are safe
    * throughout. `keepGenerations = 2` preserves the standard one-flip
    * grace window and is safe whenever [[compact]] itself is.
    * Single-writer, like every store mutation here.
    *
    * Returns one row: (generations_removed, bytes_reclaimed).
    */
  def vacuum(spark: SparkSession, path: String,
             keepGenerations: Int = 1): DataFrame =
    Lease.withLease(spark, path, "vacuum") {
    require(keepGenerations >= 1, "must keep at least the live generation")
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = fsOf(spark, root)
    def treeBytes(p: Path): Long = {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) n += it.next().getLen
      n
    }
    var dirsRemoved = 0L
    var bytes = 0L
    val keptVers = scala.collection.mutable.Set[String]()
    AllKinds.foreach { k =>
      val gens = generations(spark, path, k)
      val committed = gens.filter { case (_, p) => isCommitted(spark, p) }
        .sortBy(-_._1)
      if (committed.nonEmpty) {
        val keep = committed.take(keepGenerations)
        keptVers ++= keep.map(_._1.toString)
        val liveVer = committed.head._1
        val keepNames = keep.map(_._2.getName).toSet
        gens.foreach { case (v, p) =>
          // also drops crashed publishes' uncommitted leftovers — but
          // only BELOW the live generation: an uncommitted dir above it
          // could be an in-flight staged publish under a violated
          // single-writer contract, and deleting it buys nothing
          if (v < liveVer && !keepNames.contains(p.getName)) {
            bytes += treeBytes(p)
            dirsRemoved += 1
            fs.delete(p, true); ()
          }
        }
      }
    }
    // prune store-level commit markers no surviving generation needs
    bytes += dropStoreCommits(spark, path, keptVers.toSet)
    Tombstones.collapseSeq(spark, path)
    Seq((dirsRemoved, bytes)).toDF("generations_removed", "bytes_reclaimed")
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

  /** Parquet data files under `dir`, counted through the Hadoop
    * FileSystem like every other store touch. A `java.io.File` walk here
    * would silently return 0 on HDFS/S3/abfs stores — exactly the
    * deployments whose fragmentation matters — so the [[maintain]]
    * compaction trigger would never fire, with no error. Recursive: the
    * data dirs nest one partition level (cell=…/bucket=…).
    */
  private[graft] def countDataFiles(spark: SparkSession, dir: String): Long = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
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
    val c = codingOf(kind, new Markers(spark, path))
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
