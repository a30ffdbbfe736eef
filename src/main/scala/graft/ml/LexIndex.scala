package graft.ml

import graft.ml.Ckpt.CutOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted LEXICAL (BM25) index: build the inverted index ONCE, serve
  * every later seed batch from the stored layout — the sparse twin of the
  * dense [[Index]] store, closing the serving-surface asymmetry: the
  * inline [[Retrieval.bm25TopK]] re-tokenizes the corpus and rebuilds
  * tf/df/idf per call (the right shape for a one-shot selection query,
  * priced by `ret_bm25_seeds`' scale rows), but a 100-TB retrieval
  * deployment amortizes exactly one corpus pass into an index and then
  * answers from postings alone — Lucene/Anserini's contract, re-expressed
  * as partitioned parquet + Catalyst pruning.
  *
  * On-disk layout (all parquet under `path/`):
  *   - `postings/` (doc_id, th, tf, dl) PARTITIONED BY `bucket` =
  *     pmod(th, n_buckets), one file per bucket, SORTED by th within the
  *     file. Partitioning is the scale decision: a seed batch's term set
  *     hashes to a bounded bucket list (query-side cardinality —
  *     |seeds|·nQueryTerms at most), so the serve scan statically prunes
  *     to those directories, and the within-file th order keeps parquet
  *     row-group min/max stats selective for the term-level pushdown
  *     below the prune. dl (the document's bigram count) is denormalized
  *     onto every posting — functionally dependent on doc_id — so tf
  *     normalization at serve time needs no corpus-side join.
  *   - `terms/` (th, df) partitioned the same way: the document
  *     frequencies, FROZEN at build time.
  *   - `stats/` one row (n_docs, avgdl, n_buckets, sum_dl), frozen at
  *     build; a fold or rebuild republishes it inside the new terms
  *     generation ([[statsDir]]).
  *   - `df_deltas/`, `doc_deltas/` — the append sidecars [[foldStats]]
  *     consumes.
  * Postings and terms are versioned and published like every store kind
  * ([[Store]]: `<kind>_v<n>/` generations, one `commit_v<n>` marker per
  * publish); tombstones and the mutation counter are [[Tombstones]]'.
  *
  * Scoring at serve time is bit-identical to [[Retrieval.bm25TopK]] for a
  * store built over the same corpus: both serves call the same
  * [[Retrieval.seedTerms]], [[Retrieval.idfWeights]] and
  * [[Retrieval.bm25Ranked]], and the build writes
  * [[Retrieval.termStream]] — `ret_bm25_persisted` answers the SAME
  * DuckDB oracle as `ret_bm25_seeds`.
  *
  * Refresh ([[appendLexical]]) appends the arriving documents' postings
  * to their bucket partitions with df / avgdl / n_docs intentionally
  * FROZEN — the same trade the dense store makes with its quantizers
  * (cell ids stable ⇒ rows never move; here: idf weights stable ⇒ scores
  * of existing documents never change under append). Consequences, by
  * design: an appended posting whose term the base corpus never saw has
  * no df row and cannot be scored; frozen df understates how common a
  * term has become. Both are rebuild signals, not append-time fixes —
  * [[Retrieval.profileWeights]] over a corpus sample vs the stored
  * `terms/` is the drift monitor, exactly as `snapshotDrift` is for the
  * dense store.
  */
object LexIndex {
  import Portable._

  import Store.{PostingsKind, TermsKind, liveDir}
  private def termsPath(path: String) = s"$path/terms"
  private def statsPath(path: String) = s"$path/stats"

  /** LIVE terms directory — generation-resolved like the postings
    * ([[foldStats]] publishes `terms_v<n>`; a never-folded store falls
    * through to the flat build dir).
    */
  private[graft] def termsDir(spark: SparkSession, path: String): String =
    liveDir(spark, path, TermsKind)

  /** LIVE stats: once a fold or staged rebuild has republished them,
    * the stats row rides INSIDE the live terms generation (`_stats/` —
    * underscore-prefixed, invisible to the terms scan) so ONE commit
    * marker flips df and n_docs/avgdl together: a serve planned
    * mid-fold can never score new df against old avgdl or vice versa.
    * A never-folded store falls back to the flat build dir.
    */
  private[graft] def statsDir(spark: SparkSession, path: String): String = {
    val t = s"${termsDir(spark, path)}/_stats"
    if (Store.exists(spark, t)) t else statsPath(path)
  }

  /** The live stats row (n_docs, avgdl, n_buckets[, sum_dl]) from
    * [[Store.table]]'s driver-side cache.
    */
  private def statsRow(spark: SparkSession, path: String): org.apache.spark.sql.Row = {
    val dir = statsDir(spark, path)
    Store.table(spark, dir, "stats")(_.head)
      .getOrElse(spark.read.parquet(dir).head()) // raises Spark's missing-path error
  }

  // per-append accounting sidecars ([[foldStats]]' inputs): df_deltas =
  // (th, df) of each appended batch, doc_deltas = (n_docs, sum_dl)
  private def dfDeltasPath(path: String) = s"$path/df_deltas"
  private def docDeltasPath(path: String) = s"$path/doc_deltas"

  /** (doc_id, dl, th, tf [, metaCols], bucket) — every bigram posting of
    * `docs`, BUCKET-FUSED: the tf aggregation and the partitioned write's
    * layout share ONE exchange. The naive shape pays the exploded term
    * stream twice — [[Retrieval.termFrequencies]]' window shuffle on
    * (doc_id, th), then a second full repartition by bucket for the
    * partitionBy write (plus the write's own required sort on the
    * partition column, a THIRD sort of the stream). Because `bucket` =
    * pmod(th, nb) is a pure function of `th`, distributing by bucket
    * alone already co-locates every (doc_id, th) group, so the window can
    * key on (bucket, th, doc_id): HashPartitioning(bucket) satisfies
    * ClusteredDistribution(bucket, th, doc_id) and Catalyst plans NO
    * second exchange — one shuffle, one local sort, and the resulting
    * (bucket, th, doc_id) order satisfies the dynamic-partition write's
    * required bucket-prefix ordering too, so each bucket file comes out
    * th-sorted (the row-group pushdown contract) with no further sort.
    * tf is bit-identical to the termFrequencies form (same per-key count,
    * one survivor row per key; the window spills incrementally like the
    * original — per-task state stays a bounded sort buffer, never a
    * corpus-cardinality hash map).
    *
    * `metaCols` ride the exploded stream (functionally dependent on
    * doc_id, exactly like dl) instead of joining a corpus-sized doc table
    * back on doc_id after aggregation — at 100 TB that join is a second
    * full shuffle of the posting stream; a few carried metadata bytes per
    * token are the cheaper trade.
    */
  private[graft] def bucketedPostingsOf(docs: DataFrame, nb: Long,
                                        metaCols: Seq[String] = Nil): DataFrame = {
    val metaExprs = metaCols.map(col)
    // two window specs over ONE sort: the tf count partitions by the
    // full key (required ordering = the partition keys, (bucket, th,
    // doc_id)), and the survivor-row pick uses lag over the SAME
    // ordering (partition bucket, order th, doc_id) instead of a
    // row_number whose orderBy would lengthen the required ordering and
    // force a second local sort of the stream — a row is the first of
    // its (th, doc_id) run iff the previous row's key differs
    val byKey = Window.partitionBy("bucket", "th", "doc_id")
    val byRun = Window.partitionBy("bucket").orderBy("th", "doc_id")
    Retrieval.termStream(docs, metaCols)
      // skew: the bucket key spreads DISTINCT terms evenly, but all
      // postings of one term share its bucket, so a stopword-heavy
      // bigram makes a hot bucket (one task, one large file). Accepted:
      // results do not depend on the grid, and the bucket is also the
      // partition directory the serve prunes to; split hot terms across
      // a (bucket, salt) exchange if a build ever shows that straggler
      .withColumn("bucket", pmod(col("th"), lit(nb)))
      .repartition(col("bucket"))
      .withColumn("tf", count(lit(1)).over(byKey))
      .withColumn("__pth", lag("th", 1).over(byRun))
      .withColumn("__pdoc", lag("doc_id", 1).over(byRun))
      // survivor filter preconditions: th is never null (h64 of an
      // exploded non-null shingle) — `<=>` would merge a run of null th
      // across documents — and the duplicates of a (th, doc_id) key are
      // contiguous, which the byRun sort on exactly (th, doc_id) within
      // a bucket guarantees. A caller feeding its own th must keep both
      .where(!(col("th") <=> col("__pth") && col("doc_id") <=> col("__pdoc")))
      // the stored column order (doc_id, dl, th, tf, meta...) — metadata
      // last, as the legacy meta join produced
      .select(Seq(col("doc_id"), col("dl"), col("th"), col("tf")) ++
        metaExprs :+ col("bucket"): _*)
  }

  /** Bucket-grid default: ~one bucket per 2k corpus documents, clamped
    * to [64, 4096]. The count only shapes the partition grid
    * (bucket = pmod(th, n)) — results are identical at any count — so
    * the trade is purely physical: more buckets = finer seed-term
    * pruning but more directories to write at build time; the clamp
    * keeps toy corpora from paying hundreds of directory creates for
    * kilobytes of postings (measured: a fixed 256-bucket grid cost a
    * 500-doc build 12.7 s of pure filesystem overhead) and keeps the
    * biggest grids within block-sized per-bucket files.
    */
  def autoBuckets(nDocs: Long): Int =
    math.max(64L, math.min(4096L, nDocs / 2000L)).toInt

  /** The non-metadata posting columns — everything else in a stored
    * postings schema is caller metadata persisted via `metaCols`.
    */
  private[graft] val postingsCore = Set("doc_id", "th", "tf", "dl",
    "ins_seq", "bucket")

  /** Build + persist the inverted index of `corpus` under `path`. This is
    * the ONE full-corpus pass the inline operator pays per call: tokenize,
    * tf per (doc, term), df per term, corpus stats — written once,
    * amortized over every later serve. `nBuckets` sizes the partition
    * grid explicitly; 0 (default) = [[autoBuckets]].
    * `metaCols` names extra `corpus` columns (a label / language /
    * tenant id) to DENORMALIZE onto every posting — functionally
    * dependent on doc_id, exactly like `dl` — so a filtered serve
    * ([[bm25TopKIndexed]]'s `candWhere`) pushes its predicate into the
    * pruned postings scan itself instead of joining a doc table after
    * the candidates are already materialized.
    */
  /** `insSeq` stamps the build rows' mutation sequence — 0 for a fresh
    * build; [[rebuildLexical]] passes the store's bumped counter so
    * rows republished under surviving tombstones outrank every
    * existing `del_seq` (the dense [[Index.saveIvf]] contract).
    */
  def saveLexical(corpus: DataFrame, path: String, nBuckets: Int = 0,
                  metaCols: Seq[String] = Nil,
                  insSeq: Long = 0L): Unit =
    Lease.withLease(corpus.sparkSession, path, "saveLexical") {
    require(nBuckets >= 0, "nBuckets must be non-negative")
    val spark = corpus.sparkSession
    val nDocs = corpus.count()
    val nb = if (nBuckets > 0) nBuckets else autoBuckets(nDocs)
    // an in-place REBUILD overwrites only the flat dirs (v0): stale
    // compacted/folded generations from the previous store's life would
    // outrank them in liveDir and silently serve pre-rebuild relations —
    // retire them first (the dense saveIvf contract), along with any
    // store-level commit markers from staged rebuilds
    Store.retireGenerations(spark, path, PostingsKind)
    Store.retireGenerations(spark, path, TermsKind)
    Store.dropStoreCommits(spark, path, all = true)
    if (insSeq == 0L) // fresh build: no mutation history (a rebuild keeps it)
      Tombstones.clear(spark, path)
    // one file per bucket, th-sorted within it (row-group stats carry the
    // term pushdown); the full-index write is the build's whole point —
    // and [[bucketedPostingsOf]] fuses the tf aggregation into the SAME
    // exchange, so the exploded term stream is shuffled exactly once
    bucketedPostingsOf(corpus, nb.toLong, metaCols)
      .withColumn("ins_seq", lit(insSeq)) // build rows: mutation seq 0
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/$PostingsKind")
    // df from the JUST-WRITTEN postings — a column-pruned (th-only)
    // re-read beats re-running the corpus tokenize+explode lineage
    val written = Store.read(spark, s"$path/$PostingsKind")
    written
      .groupBy("th").agg(count(lit(1)).as("df"))
      .withColumn("bucket", pmod(col("th"), lit(nb.toLong)))
      .repartition(col("bucket"))
      // bucket-prefixed sort: satisfies the partitioned write's required
      // ordering (no second write-time sort) and keeps each bucket file
      // th-sorted — bucket is constant within a file
      .sortWithinPartitions("bucket", "th")
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(termsPath(path))
    // stats from the SAME re-read instead of a second corpus tokenize —
    // the build's only full-text pass stays the postings write. Exact by
    // construction: Σ_docs dl = Σ_docs #bigram-instances = Σ_postings tf
    // (tf counts a doc's instances of one term, so per doc it sums back
    // to size(words) − 1 = dl; a doc with NO posting rows has dl = 0 —
    // no bigram ⟺ size(words) < 2, null text included). One columnar
    // scan with map-side partial sums — no shuffle, no re-read of the
    // full text bytes; n_docs is the corpus count already taken for the
    // bucket grid.
    // avgdl edge semantics preserved bit-for-bit: an all-tokenless corpus
    // summed 0/n = 0.0 in the old corpus-pass agg (every doc row carried
    // dl = 0), and an EMPTY corpus gave null (sum over no rows) — the
    // posting-side sum is null in both, so coalesce for the former and
    // pin null for the latter
    val avgdl =
      if (nDocs == 0L) lit(null).cast("double")
      else round(coalesce(sum("tf"), lit(0L)) / nDocs.toDouble, 6)
    written.select(col("tf"))
      .agg(lit(nDocs).as("n_docs"),
        avgdl.as("avgdl"),
        lit(nb.toLong).as("n_buckets"),
        coalesce(sum("tf"), lit(0L)).as("sum_dl"))
      .write.mode("overwrite").parquet(statsPath(path))
    // a fresh build owes nothing to the previous store's append history
    Store.dropDir(spark, dfDeltasPath(path))
    Store.dropDir(spark, docDeltasPath(path))
  }

  /** Refresh the store WITHOUT a rebuild: the arriving documents'
    * postings land in their bucket partitions (one appended file per
    * touched bucket); df / n_docs / avgdl stay FROZEN at their build
    * values (see the object doc for why, and what drift signals a
    * rebuild). O(batch tokens) — no standing rescan.
    */
  def appendLexical(spark: SparkSession, path: String,
                    newDocs: DataFrame,
                    metaCols: Seq[String] = Nil): Unit =
    Lease.withLease(spark, path, "appendLexical") {
    val nBuckets = statsRow(spark, path).getAs[Long]("n_buckets")
    // the store's schema decides the metadata set — a caller-side
    // mismatch fails loudly instead of writing silently-unfilterable
    // rows (the dense-store append contract)
    val meta = Store.appendMetaCols(spark, liveDir(spark, path, PostingsKind),
      postingsCore, newDocs, metaCols)
    // materialized once: the postings write, the df sidecar, and the doc
    // sidecar all derive from this batch-sized relation — bucket-fused
    // like the build (one exchange carries tf aggregation AND layout;
    // metadata rides the token stream instead of a doc-table join)
    val post = bucketedPostingsOf(newDocs, nBuckets, meta).lineageCut
    // stamped AFTER any tombstone the caller just wrote ([[upsertDocs]]):
    // the appended postings outrank it and serve; older rows stay masked
    val seqNo = Tombstones.nextSeq(spark, path)
    Store.fencedAppend(spark, path, PostingsKind) { dir =>
      post
        .withColumn("ins_seq", lit(seqNo))
        .write.mode("append").partitionBy("bucket")
        .parquet(dir)
    }
    // ACCOUNTING SIDECARS: the batch's df contribution and doc stats,
    // appended as batch-sized rows so [[foldStats]] can later refresh
    // df / n_docs / avgdl WITHOUT re-tokenizing the corpus. Best-effort
    // bookkeeping under the store's single-writer contract — a crash
    // between the postings write and here leaves the sidecar one batch
    // short, which a full rebuild (not a fold) repairs.
    post.groupBy("th").agg(count(lit(1)).as("df"))
      .coalesce(1)
      .write.mode("append").parquet(dfDeltasPath(path))
    // the doc sidecar from the SAME materialized batch postings instead
    // of a second tokenize of the batch text (the saveLexical stats
    // identity: Σ_docs dl = Σ_postings tf, posting-less docs contribute
    // dl = 0); the batch size is a text-free count of the batch relation
    val batchDocs = newDocs.count()
    post.select(col("tf"))
      .agg(lit(batchDocs).as("n_docs"),
        coalesce(sum("tf"), lit(0L)).as("sum_dl"))
      .coalesce(1)
      .write.mode("append").parquet(docDeltasPath(path))
  }

  /** Refresh the FROZEN scoring stats from the append sidecars — the
    * cheap middle option between "serve with drifting stats" and a full
    * rebuild. The postings are already complete (base + appends), so
    * what a rebuild mostly re-derives is df/n_docs/avgdl — and those
    * fold incrementally: new `terms/` = frozen df ⊎ sidecar df summed
    * per term (appended-only terms gain their FIRST df row — the
    * [[stats]] blind spot empties), new `stats/` = frozen counts plus
    * the sidecar totals. O(|terms| + |sidecar|), no corpus re-tokenize,
    * no postings rewrite. After a fold the store scores EXACTLY like a
    * fresh [[saveLexical]] over the full corpus (same df, same n_docs,
    * same 6-dp avgdl; the bucket GRID stays frozen, which changes
    * nothing — results are grid-independent). What a fold does NOT do:
    * re-grid the buckets (dilution keeps growing; a full rebuild resets
    * it) or repair a sidecar torn by a crashed append. Single-writer —
    * and ENFORCED (the dense rebuild contract): sidecar consumption is
    * FILE-LISTED (read exactly the delta files present at the start,
    * delete exactly those — a delta landing mid-fold survives to the
    * next fold instead of being deleted unconsumed, the tombstone-
    * consumption pattern), and the mutation counter is snapshotted at
    * the start and re-verified immediately before the flip: an
    * append/upsert/delete racing the fold aborts it loudly with the
    * staged terms discarded and every sidecar intact.
    */
  def foldStats(spark: SparkSession, path: String): Unit =
    foldStats(spark, path, () => ())

  /** Test seam — see [[Index.rebuild]]'s `midHook`. */
  private[graft] def foldStats(spark: SparkSession, path: String,
                               midHook: () => Unit): Unit =
    Lease.withLease(spark, path, "foldStats") {
    // the consumption listing: exactly these files are folded in and
    // exactly these are deleted by the publish (sidecars the live terms
    // generation already consumed, left by a fold or rebuild that died
    // between its commit marker and its deletes, are left out and deleted)
    val dfFiles = Store.unconsumed(spark, path, TermsKind, dfDeltasPath(path))
    val docFiles = Store.unconsumed(spark, path, TermsKind, docDeltasPath(path))
    if (dfFiles.isEmpty && docFiles.isEmpty) return // nothing to fold
    val snap = Store.snapshotStore(spark, path)
    val row = statsRow(spark, path)
    require(row.schema.fieldNames.contains("sum_dl"),
      "foldStats needs a store built with the sum_dl stats column " +
        "(older store: run a full saveLexical rebuild instead)")
    val nb = row.getAs[Long]("n_buckets")
    // READER-SAFE: the folded terms are STAGED with the stats row riding
    // inside as `_stats/`, so the one publish flips df and stats together;
    // the previous generation stays on disk for any serve planned against it
    val src = termsDir(spark, path)
    val stage = s"$path/_fold_stage"
    val staged = s"$stage/$TermsKind"
    Store.dropDir(spark, stage) // a crashed fold's leftover is dead weight
    import spark.implicits._
    val dd = Tombstones.readFiles(spark, docFiles)
      .fold(Seq((0L, 0L)).toDF("dn", "ds").head()) {
        _.agg(coalesce(sum("n_docs"), lit(0L)).as("dn"),
          coalesce(sum("sum_dl"), lit(0L)).as("ds")).head()
      }
    val n2 = row.getAs[Long]("n_docs") + dd.getLong(0)
    val s2 = row.getAs[Long]("sum_dl") + dd.getLong(1)
    Seq((n2, s2)).toDF("n_docs", "sum_dl")
      .select(col("n_docs"),
        round(col("sum_dl") / col("n_docs").cast("double"), 6).as("avgdl"),
        lit(nb).as("n_buckets"), col("sum_dl"))
      .write.mode("overwrite").parquet(s"$staged/_stats")
    // terms: frozen ⊎ listed deltas, summed per term, re-gridded like
    // the build
    Store.read(spark, src).select("th", "df")
      .unionByName(Tombstones.readFiles(spark, dfFiles)
        .getOrElse(Seq.empty[(Long, Long)].toDF("th", "df")))
      .groupBy("th").agg(sum("df").as("df"))
      // upsert retractions can zero a term out entirely (its only doc
      // was replaced by text without it) — a fresh build has no df row
      // for it, so neither may the fold
      .where(col("df") > 0)
      .withColumn("bucket", pmod(col("th"), lit(nb)))
      .repartition(col("bucket"))
      // bucket-prefixed sort — see the saveLexical terms write
      .sortWithinPartitions("bucket", "th")
      .write.mode("append").partitionBy("bucket") // append: _stats is in stage
      .parquet(staged)
    midHook()
    // the conflict fence: a mutation since the snapshot means the fold
    // read a superseded sidecar/terms state — abort before publishing
    Store.verifyUnmoved(spark, path, snap, snap.seq, stage, "fold")
    Store.publish(spark, path, stage, "fold", consumed = dfFiles ++ docFiles)
  }

  /** READER-SAFE full rebuild over `corpus` — the lexical twin of
    * [[Index.rebuild]], for the re-grid / blind-spot / frozen-stats
    * drifts a fold cannot fix. Postings are not invertible to text, so
    * the caller supplies the source corpus (the structural asymmetry
    * with the dense store's raw flavor); everything else is the dense
    * contract: the fresh store is BUILT IN A STAGING DIRECTORY, the
    * stats row is tucked inside the staged terms dir (`_stats/`), and
    * postings + terms flip together under ONE store-level `commit_v<n>`
    * marker — a serve planned before the flip completes from the grace
    * generations, bit-equal to the quiet serve. Tombstones survive
    * (pinned plans may hold their files) but mask nothing: the
    * republished rows carry a freshly-bumped `ins_seq`.
    *
    * The rebuild window is ENFORCED single-writer (the dense
    * [[Index.rebuild]] contract): the mutation counter and
    * committed-generation set are snapshotted up front and re-verified
    * immediately before the flip — a doc append/upsert/delete landing
    * mid-rebuild aborts it LOUDLY with the staged output discarded, the
    * store unchanged, and the append sidecars intact (a silent flip
    * would have published generations lacking the racing batch AND
    * deleted its df deltas half-consumed).
    */
  def rebuildLexical(corpus: DataFrame, path: String, nBuckets: Int = 0,
                     metaCols: Seq[String] = Nil): Unit =
    rebuildLexical(corpus, path, nBuckets, metaCols, () => ())

  /** Test seam — see [[Index.rebuild]]'s `midHook`. */
  private[graft] def rebuildLexical(corpus: DataFrame, path: String,
                                    nBuckets: Int, metaCols: Seq[String],
                                    midHook: () => Unit): Unit =
    Lease.withLease(corpus.sparkSession, path, "rebuildLexical") {
    val spark = corpus.sparkSession
    // the append history is folded into the fresh build by construction
    Store.rebuildStaged(spark, path, Store.snapshotStore(spark, path), midHook,
        consumed = Seq(dfDeltasPath(path), docDeltasPath(path))) { (stage, stampSeq) =>
      saveLexical(corpus, stage, nBuckets, metaCols, insSeq = stampSeq)
      // one marker must commit all three relations: move the staged stats
      // into the staged terms dir before the publish renames it
      val from = new org.apache.hadoop.fs.Path(s"$stage/stats")
      require(Store.fs(spark, from).rename(from,
        new org.apache.hadoop.fs.Path(s"$stage/$TermsKind/_stats")),
        s"lexical rebuild: staging the stats row inside $stage/$TermsKind failed")
    }
  }

  /** Fold per-append files back to one th-sorted file per bucket — the
    * dense store's compaction ([[Store.compact]]): crash-safe (an
    * unpublished rewrite is never selected) and reader-safe (the previous
    * generation survives as the grace generation).
    */
  def compactLexical(spark: SparkSession, path: String): Unit =
    Lease.withLease(spark, path, "compactLexical") {
      Store.compact(spark, path, Seq(PostingsKind), "bucket", Seq("th"),
        "doc_id", Tombstones.listFiles(spark, path))
    }

  /** Tombstone documents by id — O(batch), no bucket rewrite; masked
    * from the next serve's plan on (see [[Tombstones]]). Scoring stats
    * stay FROZEN — df / n_docs / avgdl keep pricing the deleted docs in
    * until a [[saveLexical]] rebuild, the same trade appends make in the
    * other direction (and the same remedy: [[deleteStats]] makes the
    * mass visible, the rebuild clears it). What deletion does NOT leave
    * behind: a masked document can never be returned, and its postings
    * are physically reclaimed by [[compactLexical]].
    */
  def deleteDocs(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Store.delete(spark, path, ids, "doc_id", "deleteDocs")

  /** Predicate deletion over the store's own columns — metadata
    * (`metaCols`) included, so "drop tenant X" needs no external id
    * list ([[Index.deleteWhere]]'s sparse twin). One pruned column scan
    * of the live postings (predicate + two-column projection push into
    * parquet), then the usual O(match) tombstone write. Resolved
    * against the MASKED store: already-masked docs are not
    * re-tombstoned (idempotent under re-runs).
    */
  def deleteWhereDocs(spark: SparkSession, path: String,
                      pred: Column): Unit =
    Store.deleteWhere(spark, path, PostingsKind, "doc_id", pred,
      "deleteWhereDocs")

  /** Replace documents in place: tombstone the batch's ids, then append
    * the new versions — [[Index.upsertIvf]]'s delete-then-add ordering.
    * Serves see exactly the new text's postings.
    *
    * DF ACCOUNTING: before the tombstone lands, the CURRENTLY-SERVED
    * versions' term and document mass is written to the sidecars as a
    * RETRACTION delta (negative df rows / negative doc counts — the
    * fold already sums), so a later [[foldStats]] prices exactly the
    * replaced corpus instead of both versions: build → upsert → fold
    * scores bit-equal to a fresh [[saveLexical]] over the final corpus
    * (the fold_equals_rebuild contract, extended from append-only to
    * the upsert surface). The retraction scan is batch-bounded — live
    * postings semi-joined to the batch ids, read once. Plain
    * [[deleteDocs]] intentionally writes NO retraction: deletion keeps
    * scoring stats frozen by contract (the deleted docs stay priced in
    * until a rebuild), whereas an upsert REPLACES — its old version
    * must not linger in df.
    */
  def upsertDocs(spark: SparkSession, path: String, docs: DataFrame,
                 metaCols: Seq[String] = Nil): Unit =
    Lease.withLease(spark, path, "upsertDocs") {
    val ids = docs.select("doc_id").distinct()
    val served = Tombstones.mask(
      Store.read(spark, liveDir(spark, path, PostingsKind)),
      Tombstones.readAll(spark, path), "doc_id")
      .join(ids, "doc_id")
      .select("doc_id", "th", "dl")
      .lineageCut // one batch-bounded read feeds both retraction writes
    served.groupBy("th").agg((-count(lit(1))).as("df"))
      .coalesce(1)
      .write.mode("append").parquet(dfDeltasPath(path))
    served.groupBy("doc_id").agg(first("dl").as("dl"))
      .agg((-count(lit(1))).as("n_docs"),
        (-coalesce(sum("dl"), lit(0L))).as("sum_dl"))
      .coalesce(1)
      .write.mode("append").parquet(docDeltasPath(path))
    deleteDocs(spark, path, docs.select("doc_id"))
    appendLexical(spark, path, docs, metaCols)
  }

  /** Deletion-mass hook — [[Index.deleteStats]]' sparse twin, at
    * POSTING-ROW level (the unit the serve anti-join pays for and the
    * compaction reclaims): one row (n_postings_stored, n_tombstones,
    * n_masked, masked_frac).
    */
  def deleteStats(spark: SparkSession, path: String): DataFrame =
    Store.deleteStats(spark, path, PostingsKind, "doc_id", versions = false,
      "n_postings_stored")

  /** Answer a seed batch from the stored index: seed bigrams hashed and
    * collected driver-side (bounded by |seeds|·nQueryTerms — query-side
    * cardinality), the postings and terms scans statically pruned to the
    * seed buckets AND term-filtered inside them (`PartitionFilters` +
    * `PushedFilters` on th — PlanSpec pins both), idf from the stored
    * frozen df/stats, then the exact [[Retrieval.bm25TopK]] arithmetic:
    * integer micro-unit contributions, 64-way pre-pruned two-stage
    * top-k, ties on doc_id. `queryDocs` carries (doc_id, text) — seeds
    * need not be stored documents (external-seed serving).
    * Output: (query_id, doc_id, score_micro, rank).
    *
    * `candWhere` is FILTERED retrieval (the label/language/tenant
    * predicate): candidate postings failing the predicate are cut
    * BEFORE scoring, so the result is the true top-k AMONG matches —
    * not a rank-then-filter that can return fewer than k while matches
    * exist. The predicate references postings columns (metadata
    * persisted via [[saveLexical]]'s `metaCols`), so it lands in the
    * parquet scan next to the bucket prune and the term row-group cut
    * (`PushedFilters` — PlanSpec pins it): at 1% selectivity the serve
    * scores 1% of the probed postings instead of filtering after the
    * contribution join.
    */
  def bm25TopKIndexed(spark: SparkSession, path: String,
                      queryDocs: DataFrame, k: Int = 10,
                      k1: Double = 1.2, b: Double = 0.75,
                      nQueryTerms: Int = 8,
                      dfCapFrac: Double = 0.5,
                      candWhere: Column = lit(true)): DataFrame = {
    require(k > 0 && nQueryTerms > 0 && dfCapFrac > 0)
    val stats = Store.read(spark, statsDir(spark, path))
    val nBuckets = statsRow(spark, path).getAs[Long]("n_buckets")
    // the seed vocabulary: bounded, materialized once, read three times
    // (bucket/term collect below, df weighting, posting join)
    val qterms = Retrieval.seedTerms(queryDocs, nQueryTerms)
    // driver-side probe lists — the serving-path scan cut (the shared
    // [[Store.prunedToProbes]] machinery): the read names ONLY the
    // seed-term bucket directories (full partition discovery would list
    // every bucket before pruning — a driver cost that grows with the
    // grid, measured 4× on a 2,500-bucket 5-seed serve), the bucket isin
    // stays plan-visible, and the term list lands as a row-group
    // predicate inside the probed buckets
    val ths = qterms.select("th").distinct().collect().map(_.getLong(0))
    val buckets = ths.map(t => ((t % nBuckets) + nBuckets) % nBuckets).distinct
    // the term-level literal filter is a row-group cut INSIDE the probed
    // buckets — worth its plan size only while the seed vocabulary is
    // small; past the cap the bucket prune plus the broadcast term join
    // below carry the cut alone (an 100k-literal In would bloat every
    // task's plan for a filter the join already applies)
    val termFilter =
      if (ths.length <= 8192) col("th").isin(ths.toSeq: _*) else lit(true)
    def pruned(dir: String): DataFrame =
      Store.prunedToProbes(spark, dir, buckets, "bucket").where(termFilter)
    // idf per (query, surviving term) from the FROZEN stored df + stats;
    // bounded by the seed vocabulary — broadcast everywhere below
    val weighted = Retrieval.idfWeights(
      pruned(termsDir(spark, path))
        .join(broadcast(qterms), "th")
        .crossJoin(broadcast(stats.select("n_docs", "avgdl"))),
      Seq("query_id", "th"), dfCapFrac)
    // the pruned stored postings are the only store-touching relation;
    // tombstone mask before scoring: a deleted doc must not consume a
    // top-k slot (the dense serve's rank-then-filter hazard)
    Retrieval.bm25Ranked(Tombstones.mask(
      pruned(liveDir(spark, path, PostingsKind)).where(candWhere),
      Tombstones.readAll(spark, path), "doc_id"), weighted, k, k1, b)
  }

  /** The lexical MAINTENANCE decision ([[Index.maintain]]'s sparse
    * twin), closed over the measured signals, cheapest-sufficient
    * action first:
    *   - append sidecars outstanding AND unscoreable blind-spot mass
    *     past `maxUnscoreableFrac` of live postings → [[foldStats]]
    *     (clears the blind spot at sidecar cost — no corpus read);
    *   - dead-posting mass ([[deleteStats]]) past `maxMaskedFrac`, or
    *     per-bucket fragmentation past `maxFilesPerBucket` →
    *     [[compactLexical]];
    *   - grid dilution past `maxDilution` → returns "rebuild-needed"
    *     WITHOUT acting: postings are not invertible to text, so a
    *     lexical re-grid needs the source corpus ([[saveLexical]]) —
    *     the structural asymmetry with the dense store, whose raw
    *     flavor self-rebuilds;
    *   - otherwise "none".
    */
  /** `rebuildWith`: the source corpus, when the operator can supply it —
    * the dilution branch then ACTS ([[rebuildLexical]], reader-safe,
    * stored metadata schema preserved) instead of returning
    * "rebuild-needed" and waiting for a manual build.
    */
  def maintain(spark: SparkSession, path: String,
               maxUnscoreableFrac: Double = 0.05,
               maxMaskedFrac: Double = 0.2,
               maxFilesPerBucket: Double = 8.0,
               maxDilution: Double = 4.0,
               rebuildWith: Option[DataFrame] = None,
               vacuumKeep: Option[Int] = None): String =
    maintainReport(spark, path, maxUnscoreableFrac, maxMaskedFrac,
      maxFilesPerBucket, maxDilution, rebuildWith, vacuumKeep)
      .head().getString(0)

  /** [[maintain]] with its EVIDENCE ([[Index.maintainReport]]'s sparse
    * twin): one row of the decision inputs, all measured BEFORE the
    * action runs, so a cron operator can alert on TREND — blind-spot
    * mass creeping toward the fold threshold, dead postings toward the
    * compaction one — instead of only seeing the action fire. Columns:
    * (action, unscoreable_frac, masked_frac, files_per_bucket,
    * dilution).
    */
  /** `vacuumKeep`: the [[Store.vacuum]] opt-in, run after the action —
    * shared generation machinery, same grace-window contract.
    */
  def maintainReport(spark: SparkSession, path: String,
                     maxUnscoreableFrac: Double = 0.05,
                     maxMaskedFrac: Double = 0.2,
                     maxFilesPerBucket: Double = 8.0,
                     maxDilution: Double = 4.0,
                     rebuildWith: Option[DataFrame] = None,
                     vacuumKeep: Option[Int] = None): DataFrame =
    Lease.withLease(spark, path, "maintainLexical") {
    import spark.implicits._
    val st = stats(spark, path).head()
    val hasSidecars = Store.exists(spark, dfDeltasPath(path))
    val ds = deleteStats(spark, path).head()
    // the unscoreable denominator is the live posting-row count —
    // exactly deleteStats' n_postings_stored, so no third postings scan
    val liveRows = math.max(1L, ds.getLong(0))
    val unscoreableFrac = st.getLong(2).toDouble / liveRows
    val maskedFrac = ds.getDouble(3)
    val dir = liveDir(spark, path, PostingsKind)
    val files = Store.countDataFiles(spark, dir)
    val filesPerBucket = files.toDouble / math.max(1L, st.getLong(3))
    val dilution = st.getDouble(5)
    val action =
      if (hasSidecars && unscoreableFrac > maxUnscoreableFrac) {
        foldStats(spark, path); "fold"
      } else if (maskedFrac > maxMaskedFrac ||
          filesPerBucket > maxFilesPerBucket) {
        compactLexical(spark, path); "compact"
      } else if (dilution > maxDilution) rebuildWith match {
        case Some(corpus) =>
          rebuildLexical(corpus, path,
            metaCols = Store.storedMetaCols(spark, dir, postingsCore))
          "rebuild"
        case None => "rebuild-needed"
      }
      else "none"
    vacuumKeep.foreach { n => Store.vacuum(spark, path, n); () }
    Seq((action, math.rint(unscoreableFrac * 10000) / 10000, maskedFrac,
        math.rint(filesPerBucket * 10000) / 10000, dilution))
      .toDF("action", "unscoreable_frac", "masked_frac",
        "files_per_bucket", "dilution")
  }

  /** The lexical rebuild-decision hook — [[Index.stats]]' sparse twin.
    * Appends keep df / n_docs / avgdl FROZEN, so three drifts accumulate
    * until a rebuild: the corpus outgrows the frozen n_docs (every idf is
    * computed against a stale corpus size), appended postings whose term
    * the base never saw have no df row and SILENTLY never score (the
    * `appendLexical` blind spot), and the bucket grid falls behind what
    * [[autoBuckets]] would give the live corpus (each seed term's bucket
    * scan reads proportionally more postings). One row:
    *   - `n_docs_frozen`: the stored corpus size every idf uses.
    *   - `n_docs_live`: distinct doc ids across the LIVE postings — the
    *     observable live corpus (bigram-bearing docs; a zero-bigram doc
    *     leaves no posting and is invisible to the store either way).
    *   - `unscoreable_postings`: live posting rows whose term has no
    *     frozen df row — the blind-spot mass; these rows can NEVER
    *     contribute to any score until a rebuild.
    *   - `n_buckets` / `auto_buckets` / `dilution`: the frozen grid vs
    *     what a fresh build over the live corpus would get — dilution
    *     multiplies the per-term postings read exactly as the dense
    *     store's cell dilution multiplies the probed fraction.
    * Rebuild rule of thumb: rebuild when `unscoreable_postings` is
    * non-trivial relative to the live postings or dilution crosses the
    * serve's headroom — ServeBench's `lexrebuild` stage measures the
    * loop closing.
    */
  def stats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val frozen = statsRow(spark, path)
    // the SERVED corpus: tombstoned docs are invisible to every serve,
    // so they don't count as live (their frozen-stats mass is
    // [[deleteStats]]' column, not this one's)
    val live = Tombstones.mask(
      Store.read(spark, liveDir(spark, path, PostingsKind)),
      Tombstones.readAll(spark, path), "doc_id")
    val terms = Store.read(spark, termsDir(spark, path))
    // ONE pass over the live postings for both counts (was a distinct
    // count + a separate anti-join count, each a full scan): left join
    // the terms side — an unscoreable posting is precisely an unmatched
    // row (appears exactly once even if a terms generation ever held a
    // duplicate th, since only unmatched rows are counted), and the live
    // doc count is distinct over the same stream. Shuffle join on th,
    // deliberately: both sides are corpus-sized and bucket-partitioned;
    // stats is an occasional operational scan, not a serve-path operator
    val row = live.select("doc_id", "th")
      .join(terms.select(col("th"), lit(1).as("__has_df")), Seq("th"), "left")
      .agg(count_distinct(col("doc_id")).as("n_live"),
        count(when(col("__has_df").isNull, lit(1))).as("unscoreable"))
      .head()
    val nLive = row.getLong(0)
    val unscoreable = row.getLong(1)
    Seq((frozen.getLong(0), nLive, unscoreable, frozen.getLong(2),
        autoBuckets(nLive).toLong))
      .toDF("n_docs_frozen", "n_docs_live", "unscoreable_postings",
        "n_buckets", "auto_buckets")
      .withColumn("dilution",
        round(col("auto_buckets").cast("double") / col("n_buckets"), 4))
  }

  /** DuckDB count-formula oracle for [[stats]] over a 90/10 build+append
    * store (`baseWhereSql` = the build slice among non-seed corpus rows).
    */
  def lexStatsOracleSql(isQuerySql: String, baseWhereSql: String): String =
    s"""WITH corpus AS (
       |  SELECT doc_id, $wordsSql AS w FROM documents WHERE NOT ($isQuerySql)),
       |base AS (SELECT * FROM corpus WHERE $baseWhereSql),
       |appended AS (SELECT * FROM corpus WHERE NOT ($baseWhereSql)),
       |baseterms AS (
       |  SELECT DISTINCT ${h64Sql("t")} AS th
       |  FROM (SELECT unnest(${shinglesSql(2)}) AS t FROM base)),
       |apppost AS (
       |  SELECT DISTINCT doc_id, ${h64Sql("t")} AS th
       |  FROM (SELECT doc_id, unnest(${shinglesSql(2)}) AS t FROM appended)),
       |vals AS (SELECT
       |  (SELECT count(*) FROM base)::BIGINT AS n_docs_frozen,
       |  (SELECT count(*) FROM corpus WHERE len(w) >= 2)::BIGINT AS n_docs_live,
       |  (SELECT count(*) FROM apppost
       |   WHERE th NOT IN (SELECT th FROM baseterms))::BIGINT
       |    AS unscoreable_postings)
       |SELECT n_docs_frozen, n_docs_live, unscoreable_postings,
       |  GREATEST(64, LEAST(4096, n_docs_frozen // 2000))::BIGINT AS n_buckets,
       |  GREATEST(64, LEAST(4096, n_docs_live // 2000))::BIGINT AS auto_buckets,
       |  round(GREATEST(64, LEAST(4096, n_docs_live // 2000))::DOUBLE /
       |        GREATEST(64, LEAST(4096, n_docs_frozen // 2000)), 4) AS dilution
       |FROM vals""".stripMargin

  /** DuckDB count-formula oracle for the [[maintainReport]] compaction
    * branch: the decision with its inputs (all pure formulas — the
    * physical file count included, because a single build writes
    * exactly one file per non-empty bucket, so files = distinct
    * `pmod(th, n_buckets)` values over the corpus postings) plus the
    * post-compaction [[deleteStats]] — masked mass purged, tombstones
    * consumed — over the survivors' distinct (doc, term) postings.
    * `survivorWhereSql` selects the non-deleted corpus rows.
    */
  def lexMaintainOracleSql(isQuerySql: String,
                           survivorWhereSql: String): String =
    s"""WITH corpus AS (
       |  SELECT doc_id, $wordsSql AS w FROM documents WHERE NOT ($isQuerySql)),
       |dpost AS (
       |  SELECT DISTINCT doc_id, ${h64Sql("t")} AS th
       |  FROM (SELECT doc_id, unnest(${shinglesSql(2)}) AS t FROM corpus)),
       |vals AS (SELECT
       |  (SELECT GREATEST(64, LEAST(4096, count(*) // 2000))
       |   FROM corpus)::BIGINT AS nb,
       |  (SELECT count(*) FROM dpost)::BIGINT AS n_post_total,
       |  (SELECT count(*) FROM dpost
       |   WHERE NOT ($survivorWhereSql))::BIGINT AS n_post_masked,
       |  (SELECT count(*) FROM dpost
       |   WHERE $survivorWhereSql)::BIGINT AS n_post_surv,
       |  (SELECT GREATEST(64, LEAST(4096, count(*) // 2000)) FROM corpus
       |   WHERE $survivorWhereSql AND len(w) >= 2)::BIGINT AS auto_nb),
       |files AS (
       |  SELECT count(DISTINCT ((th % v.nb) + v.nb) % v.nb)::BIGINT AS n
       |  FROM dpost, vals v)
       |SELECT 'compact' AS action,
       |  0.0::DOUBLE AS unscoreable_frac,
       |  round(n_post_masked::DOUBLE / n_post_total, 4) AS masked_frac,
       |  round((SELECT n FROM files)::DOUBLE / nb, 4) AS files_per_bucket,
       |  round(auto_nb::DOUBLE / nb, 4) AS dilution,
       |  n_post_surv AS post_n_postings_stored,
       |  0::BIGINT AS post_n_tombstones, 0::BIGINT AS post_n_masked,
       |  0.0::DOUBLE AS post_masked_frac
       |FROM vals""".stripMargin
}
