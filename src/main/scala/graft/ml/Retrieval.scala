package graft.ml

import graft.ml.Ckpt.CutOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval over the documents table — the "targeted data
  * selection" stage of a training-data pipeline (retrieve corpus documents
  * relevant to a benchmark/task seed set, then curate the hits). The
  * scorer is Okapi BM25, the default ranking function of every production
  * lexical index (Lucene/Elastic, Anserini/Pyserini's data-selection
  * tooling). Terms are word BIGRAMS rather than unigrams — the hashed-
  * n-gram feature space DSIR-style selection uses: phrase-level terms
  * keep idf informative even when the unigram vocabulary is small or
  * stopword-dominated (every unigram of this synthetic corpus appears in
  * ~78% of documents; its bigrams are Zipf-spread).
  *
  * Scale shape: document-at-a-time scoring over a posting join. The query
  * side of a targeted-selection run is tiny relative to a 100-TB corpus
  * (a benchmark suite, not a second corpus), so everything derived from
  * it — query terms, their document frequencies, their idf weights — is
  * a broadcast relation, and the query-term filter is pushed BELOW the
  * index build: the exploded corpus term stream semi-joins the broadcast
  * query vocabulary map-side BEFORE any aggregation, so only postings a
  * query can ever score are sorted, counted, or materialized. The full
  * index is never built — the one corpus-global quantity that would need
  * it, avgdl, falls out of the word counts alone (Σ tf over the full
  * index ≡ Σ per-doc bigram counts, bit-identical). The 1000× ladder
  * forced this shape: materializing the unfiltered (doc, term, tf) index
  * held ~3 on-disk copies of an ~800M-posting relation at once (window
  * sort shuffle + spills + checkpoint blocks) and exhausted a 75 GB
  * scratch volume; post-pushdown the sorted/stored stream is the matched
  * postings only. Terms above the df cap are dropped before the posting
  * join (standard stopword pruning — an uncapped stopword term would
  * drag ~every document into every query's candidate set).
  *
  * Determinism: per-term contributions are rounded to integer micro-units
  * BEFORE the per-document sum, so the score is an integer sum —
  * accumulation-order independent, bit-identical between Spark and the
  * DuckDB oracle (the discipline of ivfPqTopK's integer-exact ADC).
  */
object Retrieval {
  import Portable._

  /** (doc_id, th, tf [, carried cols]) from the exploded term stream —
    * SORT-based, not hash-based: a groupBy(doc_id, th) carries
    * corpus-cardinality keys (~every (doc, term) pair is distinct), so
    * its aggregation map holds millions of entries per task and dies
    * with AGGREGATE_OUT_OF_MEMORY at the 1000× corpus — the exact
    * per-task-state class the simhash dedupe hit (SCALING.md). The
    * window form sorts once on the same keys (UnsafeExternalSorter
    * spills incrementally, per-task memory is a bounded buffer) and is
    * bit-identical: tf = partition count, one survivor row per key.
    *
    * ONE exchange, ONE local sort (the [[LexIndex]] bucket-fusion shape,
    * doc-keyed): distributing by doc_id alone already co-locates every
    * (doc_id, th) group, so the tf count window keys (doc_id, th) over
    * that exchange and the survivor pick is a lag-based run detector
    * over the SAME (doc_id | th) ordering — a row_number's orderBy would
    * lengthen the required ordering past the count window's and force a
    * second full sort of the stream. Callers' carried columns (dl) are
    * constant per (doc_id, th), so which duplicate survives is
    * value-irrelevant; th is never null here (h64 over exploded non-null
    * shingles), which the run comparison relies on.
    */
  private[graft] def termFrequencies(terms: DataFrame): DataFrame = {
    val byKey = Window.partitionBy("doc_id", "th")
    val byRun = Window.partitionBy("doc_id").orderBy("th")
    terms
      // skew: every term of one document lands in ONE task, so a giant
      // document (dl far above the corpus median) is a straggler where a
      // (doc_id, th) exchange would have spread it. Accepted: one task
      // holds one document's terms at a time, and results do not depend
      // on the partitioning — salt or split outlier documents here if a
      // run ever shows that straggler
      .repartition(col("doc_id"))
      .withColumn("tf", count(lit(1)).over(byKey))
      .withColumn("__pth", lag("th", 1).over(byRun))
      .where(!(col("th") <=> col("__pth")))
      .drop("__pth")
  }

  /** BM25 top-k: for every query document (selected by `isQuery`; its
    * query terms are the distinct bigrams among its first
    * `nQueryTerms`+1 words), the `k` highest-scoring CORPUS documents
    * (the non-query rows). Scoring: idf(t) = ln(1 + (N − df + 0.5)/
    * (df + 0.5)) rounded to 6 dp; tf-norm = tf·(k1+1)/(tf + k1·(1 − b +
    * b·dl/avgdl)) with dl = the document's bigram count; contribution =
    * round-half-up of idf·tfnorm·1e6 (integer micro-units); score =
    * Σ contributions. Ties break on doc_id. Terms with df > dfCapFrac·N
    * are pruned (stopword cap). Output:
    * (query_id, doc_id, score_micro, rank).
    */
  def bm25TopK(docs: DataFrame, isQuery: Column, k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               nQueryTerms: Int = 8, dfCapFrac: Double = 0.5): DataFrame = {
    require(k > 0 && nQueryTerms > 0 && dfCapFrac > 0)
    val corpus = docs.where(!isQuery)
    // corpus-global scalars from the word counts ALONE — no posting pass:
    // Σ tf over the full index is exactly Σ dl (each posting is one
    // bigram occurrence), so avgdl never needs index entries for terms no
    // query asks about; n_docs counts docs with < 2 words too. One
    // column-pruned codegen scan (split + size, no shingle HOF).
    val nDocs = corpus.count()
    val stats = corpus
      .select(greatest(size(words(col("text"))) - 1, lit(0))
        .cast("long").as("dl"))
      .agg(lit(nDocs).as("n_docs"),
        round(sum("dl") / nDocs.toDouble, 6).as("avgdl"))
    // query-derived relations — all bounded by |queries|·nQueryTerms;
    // materialized once (bounded checkpoint) because both the term filter
    // and the idf weighting read them
    val qterms = docs.where(isQuery)
      .select(col("doc_id").as("query_id"),
        slice(words(col("text")), 1, nQueryTerms + 1).as("w"))
      .select(col("query_id"), explode(shingles(col("w"), 2)).as("t"))
      .select(col("query_id"), h64(col("t")).as("th"))
      .distinct()
      .lineageCut
    // THE scale decision: the query-vocabulary semi-join sits BELOW the
    // index build. Corpus-sized relations carry 8-byte term hashes only
    // (shingleTable rule); dl rides the term stream (functionally
    // dependent on doc_id) so tf normalization needs no corpus×corpus
    // re-attach join; dl = max(|words| − 1, 0) from the word count, NOT
    // size(shingles(...)) — the shingle HOF is interpreted and evaluating
    // it twice per row doubled the scan cost (measured). Filtering before
    // termFrequencies means the window sort, the checkpoint, and every
    // downstream stage see matched postings only — the unfiltered index
    // (~3 on-disk copies at the 1000× corpus) exhausted local scratch.
    val terms = corpus
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"),
        greatest(size(col("w")) - 1, lit(0)).cast("long").as("dl"),
        explode(shingles(col("w"), 2)).as("t"))
      .select(col("doc_id"), col("dl"), h64(col("t")).as("th"))
      .join(broadcast(qterms.select("th").distinct()), "th")
    // materialize the matched-posting index ONCE (the kmeans
    // localCheckpoint discipline): df and the posting join both read tf —
    // without this each consumer re-runs the corpus explode + md5 pass,
    // whose interpreted shingle lambda is the dominant cost (measured)
    val tf = termFrequencies(terms).lineageCut
    // tf is already pruned to the query vocabulary, so df is a plain
    // per-term row count over it
    val df = tf.groupBy("th").agg(count(lit(1)).as("df"))
    // idf per surviving query term; the df cap prunes stopword-like terms
    val weighted = qterms.join(broadcast(df), "th").join(broadcast(stats))
      .where(col("df") <= floor(lit(dfCapFrac) * col("n_docs")))
      .select(col("query_id"), col("th"),
        round(log(lit(1.0) +
          (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)), 6).as("idf"),
        col("avgdl"))
    // posting join: corpus tf stream × broadcast query-term weights —
    // map-side, the only corpus-touching operation after the tf aggregate
    val contrib = tf.join(broadcast(weighted), "th")
      .select(col("query_id"), col("doc_id"),
        floor(col("idf") * (col("tf") * (k1 + 1) /
            (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))) *
          1e6 + 0.5).cast("long").as("c_micro"))
    val scored = contrib.groupBy("query_id", "doc_id")
      .agg(sum("c_micro").as("score_micro"))
    // two-stage top-k (Similarity.topK shape): 64-way bucketed pre-prune
    // bounds the final per-query window's input to 64·k rows
    val order = Seq(desc("score_micro"), asc("doc_id"))
    val pre = Window.partitionBy(col("query_id"), pmod(col("doc_id"), lit(64)))
      .orderBy(order: _*)
    val fin = Window.partitionBy("query_id").orderBy(order: _*)
    scored
      .withColumn("r1", row_number().over(pre)).where(col("r1") <= k).drop("r1")
      .withColumn("rank", row_number().over(fin)).where(col("rank") <= k)
      .select("query_id", "doc_id", "score_micro", "rank")
  }

  /** DuckDB oracle for [[bm25TopK]]; `isQuerySql` selects the query rows
    * of `documents`.
    */
  def bm25TopKOracleSql(isQuerySql: String, k: Int = 10,
                        k1: Double = 1.2, b: Double = 0.75,
                        nQueryTerms: Int = 8, dfCapFrac: Double = 0.5): String =
    s"""WITH corpus AS (
       |  SELECT doc_id, $wordsSql AS w FROM documents WHERE NOT ($isQuerySql)),
       |tf AS (
       |  SELECT doc_id, ${h64Sql("t")} AS th, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, unnest(${shinglesSql(2)}) AS t FROM corpus)
       |  GROUP BY doc_id, 2),
       |dl AS (
       |  SELECT doc_id,
       |         (CASE WHEN len(w) >= 2 THEN len(w) - 1 ELSE 0 END)::BIGINT AS dl
       |  FROM corpus),
       |stats AS (
       |  SELECT count(*)::BIGINT AS n_docs, round(avg(dl), 6) AS avgdl FROM dl),
       |qw AS (
       |  SELECT doc_id AS query_id, ($wordsSql)[1:${nQueryTerms + 1}] AS w
       |  FROM documents WHERE $isQuerySql),
       |qterms AS (
       |  SELECT DISTINCT query_id, ${h64Sql("t")} AS th
       |  FROM (SELECT query_id, unnest(${shinglesSql(2)}) AS t FROM qw)),
       |df AS (
       |  SELECT th, count(*)::BIGINT AS df FROM tf
       |  WHERE th IN (SELECT th FROM qterms) GROUP BY th),
       |weighted AS (
       |  SELECT q.query_id, q.th,
       |         round(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)), 6) AS idf,
       |         s.avgdl
       |  FROM qterms q JOIN df d USING (th), stats s
       |  WHERE d.df <= floor($dfCapFrac * s.n_docs)),
       |contrib AS (
       |  SELECT w.query_id, t.doc_id,
       |         floor(w.idf * (t.tf * ($k1 + 1) /
       |             (t.tf + $k1 * (1.0 - $b + $b * l.dl / w.avgdl))) *
       |           1e6 + 0.5)::BIGINT AS c_micro
       |  FROM tf t JOIN weighted w USING (th) JOIN dl l ON t.doc_id = l.doc_id),
       |scored AS (
       |  SELECT query_id, doc_id, sum(c_micro)::BIGINT AS score_micro
       |  FROM contrib GROUP BY query_id, doc_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY score_micro DESC, doc_id) AS rank
       |  FROM scored)
       |SELECT query_id, doc_id, score_micro, rank FROM ranked
       |WHERE rank <= $k""".stripMargin

  /** The persistable SELECTION PROFILE: the distinct df-capped seed
    * terms with their idf weights, plus the corpus stats — everything an
    * admission gate needs to score a document WITHOUT the seed set or
    * the corpus at hand. (th, idf, avgdl); constant-bounded by the seed
    * vocabulary.
    */
  def profileWeights(docs: DataFrame, isQuery: Column,
                     nQueryTerms: Int = 8,
                     dfCapFrac: Double = 0.5): DataFrame = {
    val corpus = docs.where(!isQuery)
    // avgdl from word counts (Σ tf over the full index ≡ Σ dl; see
    // bm25TopK) — the full index is never built
    val nDocs = corpus.count()
    val stats = corpus
      .select(greatest(size(words(col("text"))) - 1, lit(0))
        .cast("long").as("dl"))
      .agg(lit(nDocs).as("n_docs"),
        round(sum("dl") / nDocs.toDouble, 6).as("avgdl"))
    val seedTerms = docs.where(isQuery)
      .select(slice(words(col("text")), 1, nQueryTerms + 1).as("w"))
      .select(explode(shingles(col("w"), 2)).as("t"))
      .select(h64(col("t")).as("th")).distinct()
      .lineageCut
    // seed-vocabulary semi-join below the index build (bm25TopK shape);
    // df is tf's only consumer here, so no checkpoint — the filtered
    // stream flows straight into one aggregation
    val tf = termFrequencies(corpus
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), explode(shingles(col("w"), 2)).as("t"))
      .select(col("doc_id"), h64(col("t")).as("th"))
      .join(broadcast(seedTerms), "th"))
    val df = tf.groupBy("th").agg(count(lit(1)).as("df"))
    seedTerms.join(broadcast(df), "th").join(broadcast(stats))
      .where(col("df") <= floor(lit(dfCapFrac) * col("n_docs")))
      .select(col("th"),
        round(log(lit(1.0) +
          (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)), 6).as("idf"),
        col("avgdl"))
  }

  /** Profile ADMISSION score: every corpus document scored against the
    * seed-term profile — BM25 with the per-query dimension collapsed to
    * the seed-term union, the batch twin of the score-at-ingest stream
    * ([[StreamingSelect]]). score = Σ over matched profile terms of the
    * micro-unit BM25 contribution; admitted = score ≥ threshold.
    * Output: (doc_id, n_matched, score_micro, admitted) for every
    * corpus document.
    */
  def profileScore(docs: DataFrame, isQuery: Column, k1: Double = 1.2,
                   b: Double = 0.75, nQueryTerms: Int = 8,
                   dfCapFrac: Double = 0.5,
                   thresholdMicro: Long = 1000000L): DataFrame = {
    val corpus = docs.where(!isQuery)
    // bounded checkpoint: the profile is read twice (term filter below,
    // idf weighting in the posting join) and recomputing it would re-run
    // its corpus df pass per consumer
    val weights = profileWeights(docs, isQuery, nQueryTerms, dfCapFrac)
      .lineageCut
    // profile-vocabulary semi-join below the index build (bm25TopK
    // shape); contrib is tf's only consumer, so no checkpoint
    val tf = termFrequencies(corpus
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"),
        greatest(size(col("w")) - 1, lit(0)).cast("long").as("dl"),
        explode(shingles(col("w"), 2)).as("t"))
      .select(col("doc_id"), col("dl"), h64(col("t")).as("th"))
      .join(broadcast(weights.select("th")), "th"))
    val contrib = tf.join(broadcast(weights), "th")
      .select(col("doc_id"),
        floor(col("idf") * (col("tf") * (k1 + 1) /
            (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))) *
          1e6 + 0.5).cast("long").as("c_micro"))
    val per = contrib.groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"), sum("c_micro").as("score_micro"))
    corpus.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        coalesce(col("score_micro"), lit(0L)).as("score_micro"))
      .withColumn("admitted", col("score_micro") >= thresholdMicro)
  }

  def profileScoreOracleSql(isQuerySql: String, k1: Double = 1.2,
                            b: Double = 0.75, nQueryTerms: Int = 8,
                            dfCapFrac: Double = 0.5,
                            thresholdMicro: Long = 1000000L): String =
    s"""WITH corpus AS (
       |  SELECT doc_id, $wordsSql AS w FROM documents WHERE NOT ($isQuerySql)),
       |tf AS (
       |  SELECT doc_id, ${h64Sql("t")} AS th, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, unnest(${shinglesSql(2)}) AS t FROM corpus)
       |  GROUP BY doc_id, 2),
       |dl AS (
       |  SELECT doc_id,
       |         (CASE WHEN len(w) >= 2 THEN len(w) - 1 ELSE 0 END)::BIGINT AS dl
       |  FROM corpus),
       |stats AS (
       |  SELECT count(*)::BIGINT AS n_docs, round(avg(dl), 6) AS avgdl FROM dl),
       |seed AS (
       |  SELECT DISTINCT ${h64Sql("t")} AS th
       |  FROM (SELECT unnest(${shinglesSql(2)}) AS t
       |        FROM (SELECT ($wordsSql)[1:${nQueryTerms + 1}] AS w
       |              FROM documents WHERE $isQuerySql))),
       |df AS (
       |  SELECT th, count(*)::BIGINT AS df FROM tf
       |  WHERE th IN (SELECT th FROM seed) GROUP BY th),
       |weights AS (
       |  SELECT s.th,
       |         round(ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5)), 6) AS idf,
       |         st.avgdl
       |  FROM seed s JOIN df d USING (th), stats st
       |  WHERE d.df <= floor($dfCapFrac * st.n_docs)),
       |contrib AS (
       |  SELECT t.doc_id,
       |         floor(w.idf * (t.tf * ($k1 + 1) /
       |             (t.tf + $k1 * (1.0 - $b + $b * l.dl / w.avgdl))) *
       |           1e6 + 0.5)::BIGINT AS c_micro
       |  FROM tf t JOIN weights w USING (th) JOIN dl l ON t.doc_id = l.doc_id),
       |per AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_matched,
       |         sum(c_micro)::BIGINT AS score_micro
       |  FROM contrib GROUP BY doc_id)
       |SELECT c.doc_id, coalesce(n_matched, 0)::BIGINT AS n_matched,
       |       coalesce(score_micro, 0)::BIGINT AS score_micro,
       |       coalesce(score_micro, 0) >= $thresholdMicro AS admitted
       |FROM corpus c LEFT JOIN per USING (doc_id)""".stripMargin

  /** isQuery predicate of the registered queries: a fixed 1% slice — the
    * "benchmark seed set" of a targeted-selection run.
    */
  val defaultIsQuery: Column = pmod(col("doc_id"), lit(100)) === 0
  val defaultIsQuerySql: String = "((doc_id % 100) + 100) % 100 = 0"

  /** A CORPUS-INDEPENDENT seed set (the first 100 base doc_ids — scale
    * replication appends high-id copies, so this stays exactly 100 docs
    * at every scale). The per-seed listing's scale boundary is the seed
    * set growing with the corpus: matched-posting volume is
    * Σ_term df(term) × queries(term), quadratic when both factors scale
    * (measured: 576× contrib growth for 100× input; >70 GB scratch
    * exhaustion at 1000× with corpus-proportional seeds — SCALING.md
    * round 8). With the seed side FIXED, only df grows — linear, the
    * shape a real corpus loop has.
    */
  val boundedIsQuery: Column = col("doc_id") < 100
  val boundedIsQuerySql: String = "doc_id < 100"

  /** Hybrid lexical+dense retrieval with reciprocal-rank fusion — the
    * standard two-tower data-selection shape (a lexical BM25 list and a
    * dense embedding-ANN list per seed, fused by RRF; cf. the
    * Cormack/Clarke/Buettcher RRF formulation every hybrid search stack
    * ships). Per seed query q and candidate c:
    *   rrf(c) = Σ_lists 1/(kRrf + rank_list(c)),
    * computed in integer micro-units (floor(1e6/(kRrf+rank) + 0.5), a sum
    * of ≤ 2 terms — accumulation-order independent, bit-identical to the
    * DuckDB oracle). A candidate absent from a list contributes 0 from
    * it; fused ties break on candidate id.
    *
    * The seed set is the CORPUS-INDEPENDENT bounded convention
    * ([[boundedIsQuery]]: base ids < `nSeeds`, identical for the doc and
    * vector tables since vec_id keys documents): both component
    * workloads stay linear in the corpus — the lexical side is
    * `ret_bm25_seeds`' measured scale path, the dense side is IVF with
    * corpus-scaled cells. Fusion itself touches only the two k-bounded
    * rank lists (≤ nSeeds·k rows each): a full-outer join of two tiny
    * relations, broadcastable at any corpus scale.
    *
    * Output: (query_id, cand_id, lex_rank, dense_rank, rrf_micro, rank),
    * ranks −1 when the candidate is absent from that list.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, k: Int = 10,
                kRrf: Int = 60, nSeeds: Int = 100): DataFrame = {
    val lex = bm25TopK(docs, col("doc_id") < nSeeds, k)
      .select(col("query_id"), col("doc_id").as("cand_id"),
        col("rank").as("lex_rank"))
    val den = Similarity.ivfTopK(emb, col("vec_id") < nSeeds, k)
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        col("rank").as("dense_rank"))
    fuseRrf(lex, den, k, kRrf)
  }

  /** The RRF fusion stage alone: both rank lists are k-bounded
    * (≤ |seeds|·k rows), so the full-outer join and final window touch
    * only query-side-cardinality relations at any corpus scale.
    */
  private def fuseRrf(lex: DataFrame, den: DataFrame, k: Int,
                      kRrf: Int): DataFrame = {
    def contrib(r: Column): Column =
      when(r.isNull, lit(0L))
        .otherwise(floor(lit(1e6) / (lit(kRrf) + r) + 0.5).cast("long"))
    val fused = lex.join(den, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("rrf_micro",
        contrib(col("lex_rank")) + contrib(col("dense_rank")))
      .withColumn("lex_rank", coalesce(col("lex_rank"), lit(-1)))
      .withColumn("dense_rank", coalesce(col("dense_rank"), lit(-1)))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("rrf_micro"), asc("cand_id"))
    fused.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select("query_id", "cand_id", "lex_rank", "dense_rank",
        "rrf_micro", "rank")
  }

  /** Hybrid retrieval SERVED FROM THE PERSISTED STORES: the lexical leg
    * from a [[LexIndex]] store (seed-bucket-pruned postings scan, frozen
    * idf) and the dense leg from an [[Index]] IVF store (probed-cell
    * partitions), fused by the same integer RRF. This is the deployment
    * shape: neither leg touches the raw corpus — both read exactly the
    * index fragments the seed batch probes. Bit-equal to [[hybridRrf]]
    * when the stores were built over the same corpus (both legs carry
    * their inline twins' bit-equality contracts), so it answers the SAME
    * composed oracle. `queryDocs` and `queryEmb` carry the seed texts
    * and vectors.
    */
  /** `denseTier` picks the dense leg's serving tier on the SAME store
    * layout contract: "raw" reads the flat postings ([[Index
    * .ivfTopKIndexed]]); "pq_rerank" / "sq_rerank" are the 100-TB
    * shapes — compressed-codes shortlist, exact refine from the
    * co-located raw flavor ([[Index.ivfPqRerankTopKIndexed]] /
    * [[Index.ivfSqRerankTopKIndexed]], store built `withRaw = true`) —
    * so the hybrid's dense scan reads codes bytes instead of raw
    * vectors and only the nq·rerank shortlist touches the raw flavor.
    */
  def hybridRrfIndexed(spark: org.apache.spark.sql.SparkSession,
                       lexPath: String, annPath: String,
                       queryDocs: DataFrame, queryEmb: DataFrame,
                       k: Int = 10, kRrf: Int = 60,
                       candWhere: Column = lit(true),
                       denseTier: String = "raw",
                       rerank: Int = 0): DataFrame = {
    val lex = LexIndex.bm25TopKIndexed(spark, lexPath, queryDocs, k)
      .select(col("query_id"), col("doc_id").as("cand_id"),
        col("rank").as("lex_rank"))
    val den = (denseTier match {
      case "raw" => Index.ivfTopKIndexed(spark, annPath, queryEmb, k,
        candWhere = candWhere)
      case "pq_rerank" => Index.ivfPqRerankTopKIndexed(spark, annPath,
        queryEmb, k, rerank, candWhere = candWhere)
      case "sq_rerank" => Index.ivfSqRerankTopKIndexed(spark, annPath,
        queryEmb, k, rerank, candWhere = candWhere)
      case "mrl_rerank" => Index.ivfMrlRerankTopKIndexed(spark, annPath,
        queryEmb, k, rerank, candWhere = candWhere)
      case other => throw new IllegalArgumentException(
        s"unknown denseTier `$other` — one of raw | pq_rerank | " +
          "sq_rerank | mrl_rerank")
    }).select(col("query_id"), col("neighbor_id").as("cand_id"),
      col("rank").as("dense_rank"))
    fuseRrf(lex, den, k, kRrf)
  }

  /** DuckDB oracle for [[hybridRrf]]: the two component oracles as
    * subqueries, fused by the same integer RRF arithmetic. `denseSql`
    * overrides the dense-leg subquery (a (query_id, neighbor_id, rank)
    * relation) — the tiered hybrids substitute their rerank oracles.
    */
  def hybridRrfOracleSql(k: Int = 10, kRrf: Int = 60,
                         nSeeds: Int = 100,
                         candWhereSql: String = "TRUE",
                         denseSql: String = ""): String = {
    def c(r: String): String =
      s"CASE WHEN $r IS NULL THEN 0 ELSE floor(1e6 / ($kRrf + $r) + 0.5)::BIGINT END"
    val den =
      if (denseSql.nonEmpty) denseSql
      else Similarity.ivfTopKOracleSql(k, isQuerySql = s"vec_id < $nSeeds",
        candWhereSql = candWhereSql)
    s"""WITH lex AS (
       |  SELECT query_id, doc_id AS cand_id, rank AS lex_rank
       |  FROM (${bm25TopKOracleSql(s"doc_id < $nSeeds", k)})),
       |den AS (
       |  SELECT query_id, neighbor_id AS cand_id, rank AS dense_rank
       |  FROM ($den)),
       |fused AS (
       |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
       |         coalesce(l.cand_id, d.cand_id) AS cand_id,
       |         coalesce(l.lex_rank, -1) AS lex_rank,
       |         coalesce(d.dense_rank, -1) AS dense_rank,
       |         (${c("l.lex_rank")} + ${c("d.dense_rank")}) AS rrf_micro
       |  FROM lex l FULL OUTER JOIN den d
       |    ON l.query_id = d.query_id AND l.cand_id = d.cand_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY rrf_micro DESC, cand_id) AS rank
       |  FROM fused)
       |SELECT query_id, cand_id, lex_rank, dense_rank, rrf_micro, rank
       |FROM ranked WHERE rank <= $k""".stripMargin
  }
}
