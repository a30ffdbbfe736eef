package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persisted lexical-index serving path: round-trip equality with the
  * inline BM25 operator (the sf-scale oracle hash is the driver's t2
  * gate), the frozen-stats append contract, external-seed serving, and
  * the bucket partition prune — the [[IndexSpec]] contract set, lexical
  * flavor.
  */
class LexIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_lex_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  // 40 docs over a 12-word vocabulary: enough term collisions for real
  // tf/df spread, deterministic from the doc id
  private val vocab = Array("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa", "lam", "mu")
  private def docText(i: Long): String =
    (0 until (4 + (i % 4)).toInt)
      .map(j => vocab(((i * 7 + j * 3 + i * j) % 12).toInt)).mkString(" ")
  private def docs = (0L until 40L).map(i => (i, docText(i)))
    .toDF("doc_id", "text")

  private val isQ = col("doc_id") < 4

  test("bm25TopKIndexed round-trips bit-equal to inline bm25TopK") {
    val path = freshPath("roundtrip")
    LexIndex.saveLexical(docs.where(!isQ), path, nBuckets = 16)
    val inline = Retrieval.bm25TopK(docs, isQ, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    val served = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(served === inline)
    assert(served.nonEmpty)
  }

  test("serving answers EXTERNAL seeds (texts never stored)") {
    val path = freshPath("external")
    LexIndex.saveLexical(docs.where(!isQ), path, nBuckets = 16)
    val external = Seq((1000L, docText(1) + " " + docText(2)))
      .toDF("doc_id", "text")
    val out = LexIndex.bm25TopKIndexed(spark, path, external, k = 5)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(out.map(_._1).toSet === Set(1000L))
    assert(out.map(_._4).sorted === (1 to out.length))
    assert(out.forall(r => r._2 >= 4L && r._2 < 40L))
    assert(out.nonEmpty)
  }

  test("serve prunes the postings scan to the seed-term buckets") {
    val path = freshPath("prune")
    LexIndex.saveLexical(docs.where(!isQ), path, nBuckets = 64)
    // one 3-word seed → ≤ 2 distinct bigrams → ≤ 2 of 64 buckets probed
    val seed = Seq((0L, "alpha beta gamma")).toDF("doc_id", "text")
    val df = LexIndex.bm25TopKIndexed(spark, path, seed, k = 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket#"),
      s"no partition filter on the postings scan:\n$plan")
    val probed = "bucket#\\d+L? IN \\(([^)]*)\\)".r
      .findFirstMatchIn(plan).map(_.group(1).split(",").length)
    assert(probed.exists(_ <= 2), s"bucket list not seed-bounded: $probed")
    // the term predicate rides INTO the scan too (row-group pushdown)
    assert(plan.contains("PushedFilters") && plan.contains("th"),
      s"term filter not pushed into the postings scan:\n$plan")
  }

  test("appendLexical: appended docs are served; df/avgdl stay frozen") {
    val path = freshPath("append")
    val base = docs.where(!isQ)
    // appended docs REUSE corpus texts (ids 100+): every appended term has
    // a frozen df row, and a copy of a top-ranked doc must rank adjacent
    // to its original — the strongest discoverability probe
    val extra = (100L until 110L).map(i => (i, docText(i % 20 + 4)))
      .toDF("doc_id", "text")
    LexIndex.saveLexical(base, path, nBuckets = 16)
    val statsBefore = spark.read.parquet(s"$path/stats").collect().head
    val dfBefore = spark.read.parquet(s"$path/terms")
      .orderBy("th").as[(Long, Long, Long)].collect().toSeq
    LexIndex.appendLexical(spark, path, extra)
    // frozen contract: stats and terms untouched by the append
    assert(spark.read.parquet(s"$path/stats").collect().head === statsBefore)
    assert(spark.read.parquet(s"$path/terms")
      .orderBy("th").as[(Long, Long, Long)].collect().toSeq === dfBefore)
    val out = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 10)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(out.exists(_._2 >= 100L), "no appended doc ever surfaced")
    // appended docs score with the FROZEN weights: recompute one appended
    // hit's expectation directly from the stored postings + frozen stats
    val hit = out.filter(_._2 >= 100L).head
    val k1 = 1.2; val b = 0.75
    val nDocs = statsBefore.getLong(0); val avgdl = statsBefore.getDouble(1)
    val dfMap = dfBefore.map(t => t._1 -> t._2).toMap
    val post = spark.read.parquet(
        Store.liveDir(spark, path, Store.PostingsKind))
      .where(col("doc_id") === hit._2)
      .select("th", "tf", "dl").as[(Long, Long, Long)].collect()
    val qths = docs.where(col("doc_id") === hit._1)
      .select(explode(Portable.shingles(slice(Portable.words(col("text")), 1, 9), 2)))
      .select(Portable.h64(col("col"))).as[Long].collect().toSet
    val expected = post.filter(p => qths.contains(p._1))
      .filter(p => dfMap.contains(p._1) &&
        dfMap(p._1) <= math.floor(0.5 * nDocs).toLong)
      .map { case (th, tf, dl) =>
        val idf = BigDecimal(math.log(1.0 +
          (nDocs - dfMap(th) + 0.5) / (dfMap(th) + 0.5)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        math.floor(idf * (tf * (k1 + 1) /
          (tf + k1 * (1.0 - b + b * dl / avgdl))) * 1e6 + 0.5).toLong
      }.sum
    assert(hit._3 === expected,
      "appended doc not scored with the frozen df/avgdl")
  }

  test("compactLexical folds per-append files to one per bucket, serve bit-equal") {
    val path = freshPath("compact")
    LexIndex.saveLexical(docs.where(!isQ && col("doc_id") < 20), path, nBuckets = 8)
    LexIndex.appendLexical(spark, path,
      docs.where(col("doc_id") >= 20 && col("doc_id") < 30))
    LexIndex.appendLexical(spark, path, docs.where(col("doc_id") >= 30))
    def filesPerBucket: Map[String, Int] = {
      val post = new java.io.File(
        Store.liveDir(spark, path, Store.PostingsKind).stripPrefix("file:"))
      post.listFiles().filter(_.getName.startsWith("bucket=")).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    assert(filesPerBucket.values.exists(_ > 1),
      "appends never split a bucket — fixture too weak")
    val before = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    LexIndex.compactLexical(spark, path)
    assert(filesPerBucket.values.forall(_ === 1),
      s"compaction left multi-file buckets: $filesPerBucket")
    val after = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(after === before)
  }

  test("stats reports frozen vs live corpus, blind-spot mass, and dilution") {
    val path = freshPath("stats")
    val base = docs.where(!isQ && col("doc_id") < 30) // 26 docs
    LexIndex.saveLexical(base, path, nBuckets = 8)
    // appended docs: one reuses corpus vocabulary (all terms scoreable),
    // two are written in a vocabulary the base NEVER saw (every bigram
    // posting unscoreable — the silent blind spot stats must surface)
    val extra = Seq(
      (100L, docText(7)),                       // known terms
      (101L, "nu xi omicron pi"),               // 3 unknown bigrams
      (102L, "rho sigma tau")                   // 2 unknown bigrams
    ).toDF("doc_id", "text")
    LexIndex.appendLexical(spark, path, extra)
    val row = LexIndex.stats(spark, path).head()
    assert(row.getLong(0) === 26L, "n_docs_frozen")
    assert(row.getLong(1) === 29L, "n_docs_live (26 base + 3 appended)")
    assert(row.getLong(2) === 5L,
      "unscoreable_postings: the 5 unknown-vocabulary bigram rows")
    assert(row.getLong(3) === 8L, "n_buckets frozen at build")
    assert(row.getLong(4) === 64L, "auto_buckets clamps to the floor")
    assert(row.getDouble(5) === 8.0, "dilution = auto/frozen")
  }

  test("foldStats: sidecar fold scores exactly like a fresh full-corpus build") {
    val foldPath = freshPath("fold")
    val freshBuild = freshPath("foldfresh")
    LexIndex.saveLexical(docs.where(!isQ && col("doc_id") < 20), foldPath,
      nBuckets = 8)
    // two appended docs carry vocabulary the base never saw — the blind
    // spot the fold must convert into scoreable df rows
    val novel = Seq((100L, "nu xi omicron pi"), (101L, "rho sigma tau"))
      .toDF("doc_id", "text")
    val full = docs.where(!isQ).unionByName(novel)
    LexIndex.appendLexical(spark, foldPath,
      docs.where(col("doc_id") >= 20 && col("doc_id") < 30))
    LexIndex.appendLexical(spark, foldPath,
      docs.where(col("doc_id") >= 30).unionByName(novel))
    // pre-fold: frozen stats → appended-only terms are the blind spot
    val pre = LexIndex.stats(spark, foldPath).head()
    assert(pre.getLong(2) > 0L, "fixture never grew a blind spot")
    LexIndex.foldStats(spark, foldPath)
    // post-fold: df/n_docs/avgdl equal a fresh build over the FULL
    // corpus, so the serve is bit-equal to it (grid stays frozen —
    // results are grid-independent)
    LexIndex.saveLexical(full, freshBuild, nBuckets = 8)
    def serve(p: String) =
      LexIndex.bm25TopKIndexed(spark, p, docs.where(isQ), k = 10)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Int)].collect().toSeq
    assert(serve(foldPath) === serve(freshBuild))
    val post = LexIndex.stats(spark, foldPath).head()
    assert(post.getLong(2) === 0L, "fold left unscoreable postings")
    assert(post.getLong(0) === 38L, "fold missed appended docs in n_docs")
    // sidecars are consumed by the fold (file-listed: the dirs may
    // remain, empty, so a delta landing mid-fold is never raced away)
    def noDeltas(dir: String): Boolean = {
      val f = new java.io.File(dir)
      !f.exists() || f.listFiles().forall(!_.getName.endsWith(".parquet"))
    }
    assert(noDeltas(s"$foldPath/df_deltas"))
    assert(noDeltas(s"$foldPath/doc_deltas"))
    // idempotent no-op when nothing is pending
    LexIndex.foldStats(spark, foldPath)
    assert(serve(foldPath) === serve(freshBuild))
  }

  test("an in-place rebuild retires stale compacted lexical generations") {
    val path = freshPath("rebuild")
    LexIndex.saveLexical(docs.where(!isQ && col("doc_id") < 20), path,
      nBuckets = 8)
    LexIndex.compactLexical(spark, path) // live moves to postings_v1
    assert(Store.liveDir(spark, path, Store.PostingsKind)
      .endsWith("postings_v1"))
    // rebuild over the FULL corpus: the fresh flat postings/ must win —
    // a stale postings_v1 outranking it would serve the 20-doc corpus
    // scored with the 36-doc df/avgdl
    LexIndex.saveLexical(docs.where(!isQ), path, nBuckets = 8)
    assert(Store.liveDir(spark, path, Store.PostingsKind)
        .endsWith("/postings"),
      "rebuild left a stale compacted generation outranking the fresh build")
    val served = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    val inline = Retrieval.bm25TopK(docs, isQ, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(served === inline)
    // docs 20–39 only exist post-rebuild: prove the serve reads them
    assert(served.exists(_._2 >= 20L),
      "rebuilt corpus never surfaced — stale store served")
  }

  test("an append that races a compaction flip fails loudly, not silently") {
    val path = freshPath("fence")
    LexIndex.saveLexical(docs.where(!isQ && col("doc_id") < 20), path,
      nBuckets = 8)
    // simulate the race deterministically: a compaction flips the live
    // generation while the append's write is in flight — the appended
    // files land in the now-retired flat dir, which liveDir never serves
    val thrown = intercept[IllegalStateException] {
      Store.fencedAppend(spark, path, Store.PostingsKind) { dir =>
        docs.where(col("doc_id") >= 20 && col("doc_id") < 30)
          .select(col("doc_id"), Portable.h64(col("text")).as("th"),
            lit(1L).as("tf"), lit(3L).as("dl"),
            lit(0L).as("bucket"))
          .write.mode("append").partitionBy("bucket").parquet(dir)
        LexIndex.compactLexical(spark, path) // the flip, mid-append
      }
    }
    assert(thrown.getMessage.contains("raced a compaction"))
  }

  test("hybridRrfIndexed matches the inline hybridRrf") {
    val lexPath = freshPath("hyblex")
    val annPath = freshPath("hybann")
    val emb = (0L until 40L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73).toFloat))
    }.toDF("vec_id", "embedding")
    val nSeeds = 4
    LexIndex.saveLexical(docs.where(col("doc_id") >= nSeeds), lexPath,
      nBuckets = 16)
    Index.saveIvf(emb, annPath)
    val inline = Retrieval.hybridRrf(docs, emb, k = 5, nSeeds = nSeeds)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Int, Int, Long, Int)].collect().toSeq
    val served = Retrieval.hybridRrfIndexed(spark, lexPath, annPath,
        docs.where(col("doc_id") < nSeeds), emb.where(col("vec_id") < nSeeds),
        k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Int, Int, Long, Int)].collect().toSeq
    assert(served === inline)
    assert(served.nonEmpty)
  }

  test("a seed vocabulary past the literal-filter cap serves identically") {
    // > 8192 distinct seed bigrams flips the serve to the no-term-literal
    // branch (bucket prune + broadcast join carry the cut alone); results
    // must not change. One giant seed doc: 9000 random-ish words whose
    // first stretch contains the real query terms.
    val path = freshPath("bigvocab")
    LexIndex.saveLexical(docs.where(!isQ), path, nBuckets = 16)
    val filler = (0 until 9000)
      .map(j => s"w${(j * 2654435761L % 100000)}").mkString(" ")
    val bigSeed = Seq((0L, docText(1) + " " + filler)).toDF("doc_id", "text")
    val big = LexIndex.bm25TopKIndexed(spark, path, bigSeed, k = 5,
        nQueryTerms = 9500)
      .orderBy("rank").as[(Long, Long, Long, Int)].collect().toSeq
    // reference: same giant seed through the inline operator (its query
    // side has no literal-filter branch to diverge)
    val inline = Retrieval.bm25TopK(docs.where(!isQ).union(bigSeed),
        col("doc_id") === 0, k = 5, nQueryTerms = 9500)
      .orderBy("rank").as[(Long, Long, Long, Int)].collect().toSeq
    assert(big === inline)
    assert(big.nonEmpty, "giant-vocabulary seed matched nothing — fixture too weak")
  }

  test("an empty seed batch serves an empty result, not a failure") {
    val path = freshPath("empty")
    LexIndex.saveLexical(docs.where(!isQ), path, nBuckets = 16)
    val out = LexIndex.bm25TopKIndexed(spark, path,
      docs.where(col("doc_id") < 0), k = 5)
    assert(out.count() === 0L)
  }

  // ---- document deletion / upsert (sequence-stamped tombstones) ----

  test("deleteDocs masks docs; compactLexical purges and consumes") {
    val path = freshPath("del")
    LexIndex.saveLexical(docs.where(!isQ), path, nBuckets = 16)
    val delPred = pmod(col("doc_id"), lit(10)) === 5 // docs 5,15,25,35
    LexIndex.deleteDocs(spark, path,
      docs.where(delPred).select("doc_id"))
    def dump() = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 20)
      .orderBy("query_id", "rank").collect().toSeq
    val masked = dump()
    assert(masked.nonEmpty)
    assert(masked.forall(_.getLong(1) % 10 !== 5L)) // never returned…
    masked.groupBy(_.getLong(0)).values.foreach { rows => // …and ranks stay
      assert(rows.map(_.getInt(3)).sorted === (1 to rows.length)) // contiguous
    }
    val before = masked
    LexIndex.compactLexical(spark, path)
    assert(dump() === before) // physical purge changes no answer
    assert(Tombstones.listFiles(spark, path).isEmpty) // consumed
    assert(spark.read.parquet(Store.liveDir(spark, path, Store.PostingsKind))
      .where(delPred).count() === 0L)
  }

  test("stats counts the SERVED corpus; deleteStats counts the dead mass") {
    val path = freshPath("delstats")
    LexIndex.saveLexical(docs.where(!isQ), path, nBuckets = 16)
    val livePostings = spark.read
      .parquet(Store.liveDir(spark, path, Store.PostingsKind)).count()
    val deadPostings = spark.read
      .parquet(Store.liveDir(spark, path, Store.PostingsKind))
      .where(col("doc_id") === 7L).count()
    LexIndex.deleteDocs(spark, path, Seq(7L).toDF("doc_id"))
    val st = LexIndex.stats(spark, path).head()
    assert(st.getLong(1) === 35L) // 36 stored docs − 1 tombstoned
    val ds = LexIndex.deleteStats(spark, path).head()
    assert(ds.getLong(0) === livePostings)
    assert(ds.getLong(1) === 1L)
    assert(ds.getLong(2) === deadPostings)
  }

  test("maintain: fold clears the blind spot, compact reclaims deletes, dilution flags rebuild") {
    val path = freshPath("maintain")
    LexIndex.saveLexical(docs.where(!isQ), path, nBuckets = 16)
    // novel-term append → unscoreable mass → cheapest action is the fold
    val novel = (100L until 110L)
      .map(i => (i, s"zzq$i wwx$i zzq$i yyk$i")).toDF("doc_id", "text")
    LexIndex.appendLexical(spark, path, novel)
    assert(LexIndex.stats(spark, path).head().getLong(2) > 0L)
    assert(LexIndex.maintain(spark, path) === "fold")
    assert(LexIndex.stats(spark, path).head().getLong(2) === 0L)
    assert(LexIndex.maintain(spark, path) === "none")
    // heavy deletion → compact (tombstones consumed)
    LexIndex.deleteDocs(spark, path,
      docs.where(pmod(col("doc_id"), lit(3)) === 1).select("doc_id"))
    assert(LexIndex.maintain(spark, path) === "compact")
    assert(Tombstones.listFiles(spark, path).isEmpty)
    assert(LexIndex.maintain(spark, path) === "none")
    // an under-gridded store is flagged, not silently rewritten —
    // postings cannot be inverted to text, the rebuild needs the corpus
    val small = freshPath("maintaingrid")
    LexIndex.saveLexical(docs.where(!isQ), small, nBuckets = 8)
    assert(LexIndex.maintain(spark, small) === "rebuild-needed")
  }

  test("upsertDocs serves exactly the new text; revives a deleted doc") {
    val path = freshPath("upsert")
    LexIndex.saveLexical(docs.where(!isQ), path, nBuckets = 16)
    // rewrite doc 23 AS query doc 1's text: it must become a (the) top
    // hit for query 1, scored from the NEW text's postings only
    val newDoc = Seq((23L, docText(1))).toDF("doc_id", "text")
    LexIndex.upsertDocs(spark, path, newDoc)
    val served = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 20)
    // exactly one surviving version: no duplicate (query, doc) rows
    assert(served.groupBy("query_id", "doc_id").count()
      .where(col("count") > 1).count() === 0L)
    val q1 = served.where(col("query_id") === 1L)
      .orderBy("rank").collect()
    // doc 13's text already equals docText(1) (the fixture's 12-periodic
    // word hash), so the rewritten 23 TIES it exactly — the precise pin:
    // 23 scores bit-identically to the natural copy and outranks every
    // non-copy (its OLD text would not even tie)
    val score = Map(q1.map(r => r.getLong(1) -> r.getLong(2)): _*)
    assert(score.contains(23L))
    assert(score(23L) === score(13L))
    assert(q1.take(2).map(_.getLong(1)).toSet === Set(13L, 23L))
    // delete then upsert revives (the append outranks the tombstone)
    LexIndex.deleteDocs(spark, path, Seq(23L).toDF("doc_id"))
    assert(LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 20)
      .where(col("doc_id") === 23L).count() === 0L)
    LexIndex.upsertDocs(spark, path, newDoc)
    assert(LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 20)
      .where(col("query_id") === 1L && col("doc_id") === 23L)
      .count() === 1L)
  }

  test("fold after upserts scores bit-equal to a fresh build over the final corpus") {
    val path = freshPath("foldup")
    LexIndex.saveLexical(docs.where(!isQ), path, nBuckets = 16)
    // three mutations: replace 23 twice (only the LAST version may be
    // priced), replace 31 with text that drops its old terms and brings
    // a brand-new one — exercising retraction (old df leaves), the
    // double-retraction chain, zero-out (a term whose only doc was
    // replaced), and the appended-only blind spot in one store
    LexIndex.upsertDocs(spark, path,
      Seq((23L, docText(6))).toDF("doc_id", "text"))
    LexIndex.upsertDocs(spark, path,
      Seq((23L, docText(5)), (31L, "omega omega sigma alpha"))
        .toDF("doc_id", "text"))
    LexIndex.foldStats(spark, path)
    val served = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 20)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    // the oracle: a fresh build over the corpus AS MUTATED
    val fresh = freshPath("foldup2")
    val finalCorpus = docs.where(!isQ && !col("doc_id").isin(23L, 31L))
      .unionByName(Seq((23L, docText(5)), (31L, "omega omega sigma alpha"))
        .toDF("doc_id", "text"))
    LexIndex.saveLexical(finalCorpus, fresh, nBuckets = 16)
    val expect = LexIndex.bm25TopKIndexed(spark, fresh, docs.where(isQ), k = 20)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(served === expect,
      "fold after upserts diverged from a fresh build over the final corpus")
    assert(served.nonEmpty)
    // the folded stats ARE the fresh build's stats (read via the LIVE
    // generation — the fold publishes terms_v1 with _stats inside)
    val a = spark.read.parquet(LexIndex.statsDir(spark, path))
      .select("n_docs", "avgdl", "sum_dl").head()
    val b = spark.read.parquet(LexIndex.statsDir(spark, fresh))
      .select("n_docs", "avgdl", "sum_dl").head()
    assert(a === b, s"folded stats $a != fresh-build stats $b")
    // term-level df equality (fold must drop zeroed terms like a build)
    val dfA = spark.read.parquet(LexIndex.termsDir(spark, path))
      .select("th", "df").as[(Long, Long)].collect().toSeq.sorted
    val dfB = spark.read.parquet(LexIndex.termsDir(spark, fresh))
      .select("th", "df").as[(Long, Long)].collect().toSeq.sorted
    assert(dfA === dfB, "folded df table diverged from the fresh build's")
  }

  test("a serve PLANNED before a fold executes from the pre-fold generations") {
    val path = freshPath("racefold")
    LexIndex.saveLexical(docs.where(!isQ && col("doc_id") < 30), path,
      nBuckets = 16)
    LexIndex.appendLexical(spark, path, docs.where(col("doc_id") >= 30))
    val quiet = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    val planned = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 10)
      .orderBy("query_id", "rank")
    planned.queryExecution.executedPlan // pin file listings pre-flip
    LexIndex.foldStats(spark, path)
    // a fold CHANGES scores (df/avgdl refresh) — the pre-planned serve
    // must still answer from the pre-fold snapshot, not crash or mix
    val racing = planned.as[(Long, Long, Long, Int)].collect().toSeq
    assert(racing === quiet)
    // the folded store serves the refreshed stats (terms_v1 + _stats)
    assert(Store.liveDir(spark, path, Store.TermsKind).contains("terms_v"),
      "fold did not publish a versioned terms generation")
    val folded = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    val fresh = freshPath("racefold2")
    LexIndex.saveLexical(docs.where(!isQ), fresh, nBuckets = 16)
    val expect = LexIndex.bm25TopKIndexed(spark, fresh, docs.where(isQ), k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(folded === expect)
  }

  test("a serve PLANNED before a lexical rebuild executes after the flip") {
    val path = freshPath("racerebuildlex")
    LexIndex.saveLexical(taggedDocs.where(!isQ && col("doc_id") < 30), path,
      nBuckets = 16, metaCols = Seq("lang"))
    LexIndex.appendLexical(spark, path,
      taggedDocs.where(col("doc_id") >= 30))
    // mutate: upsert doc 25 so tombstones survive into the rebuild
    LexIndex.upsertDocs(spark, path,
      Seq((25L, docText(7))).toDF("doc_id", "text")
        .withColumn("lang", lit("fr")))
    val quiet = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    val planned = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 10)
      .orderBy("query_id", "rank")
    planned.queryExecution.executedPlan // pin file listings pre-flip
    val finalCorpus = taggedDocs.where(!isQ && col("doc_id") =!= 25L)
      .unionByName(Seq((25L, docText(7))).toDF("doc_id", "text")
        .withColumn("lang", lit("fr")))
    LexIndex.rebuildLexical(finalCorpus, path, nBuckets = 16,
      metaCols = Seq("lang"))
    val racing = planned.as[(Long, Long, Long, Int)].collect().toSeq
    assert(racing === quiet,
      "pre-planned serve diverged across the lexical rebuild flip")
    // postings and terms flipped together under one commit marker
    assert(Store.liveDir(spark, path, Store.PostingsKind)
      .contains("postings_v"))
    assert(Store.liveDir(spark, path, Store.TermsKind).contains("terms_v"))
    // the rebuilt store = a fresh build over the final corpus, and the
    // surviving tombstone does not re-mask the republished doc 25
    val served = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 20)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    val fresh = freshPath("racerebuildlex2")
    LexIndex.saveLexical(finalCorpus, fresh, nBuckets = 16,
      metaCols = Seq("lang"))
    val expect = LexIndex.bm25TopKIndexed(spark, fresh, docs.where(isQ), k = 20)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(served === expect)
    // metadata survived the rebuild: the filtered serve still cuts by lang
    assert(LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 20,
      candWhere = col("lang") === "en").collect()
      .forall(_.getLong(1) % 3 == 0))
    // disk stays bounded: a second rebuild retires the grace generations
    LexIndex.rebuildLexical(finalCorpus, path, nBuckets = 16,
      metaCols = Seq("lang"))
    for (kind <- Seq("postings", "terms")) {
      val gens = new java.io.File(path).listFiles().map(_.getName)
        .filter(n => n == kind || n.startsWith(s"${kind}_v"))
      assert(gens.length <= 2,
        s"more than live+grace retained for $kind: ${gens.toSeq}")
    }
  }

  test("the lexical mutation surface composes AFTER a rebuild (versioned live dirs)") {
    val path = freshPath("postrebuildlex")
    LexIndex.saveLexical(docs.where(!isQ && col("doc_id") < 30), path,
      nBuckets = 16)
    LexIndex.rebuildLexical(docs.where(!isQ && col("doc_id") < 30), path,
      nBuckets = 16)
    assert(Store.liveDir(spark, path, Store.PostingsKind)
      .contains("postings_v"))
    // append into the versioned store, then fold the sidecars: the
    // fold must publish terms_v2 on top of the rebuild's terms_v1 and
    // score like a fresh build over the full corpus
    LexIndex.appendLexical(spark, path, docs.where(col("doc_id") >= 30))
    LexIndex.foldStats(spark, path)
    val served = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    val fresh = freshPath("postrebuildlex2")
    LexIndex.saveLexical(docs.where(!isQ), fresh, nBuckets = 16)
    val expect = LexIndex.bm25TopKIndexed(spark, fresh, docs.where(isQ), k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(served === expect)
    // delete + compact against the versioned store, serve stays clean
    LexIndex.deleteDocs(spark, path, Seq(23L).toDF("doc_id"))
    LexIndex.compactLexical(spark, path)
    val after = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 20)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(after.nonEmpty && after.forall(_._2 != 23L))
  }

  test("maintain acts on dilution when given the corpus (reader-safe rebuild)") {
    val path = freshPath("maintrebuild")
    // an 8-bucket grid vs the 64-bucket floor a fresh build would get:
    // dilution 8 > 4 with no sidecars, no deletes, no fragmentation
    LexIndex.saveLexical(docs.where(!isQ), path, nBuckets = 8)
    assert(LexIndex.maintain(spark, path) === "rebuild-needed")
    assert(LexIndex.maintain(spark, path,
      rebuildWith = Some(docs.where(!isQ))) === "rebuild")
    val st = LexIndex.stats(spark, path).head()
    assert(st.getLong(3) === 64L, "rebuild did not re-grid to autoBuckets")
    assert(st.getDouble(5) === 1.0)
    assert(LexIndex.maintain(spark, path) === "none") // healthy now
    val served = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 10)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(served.nonEmpty)
  }

  // metadata fixture: docs with a deterministic two-value language tag
  private def taggedDocs = docs
    .withColumn("lang", when(pmod(col("doc_id"), lit(3)) === 0, "en")
      .otherwise("fr"))

  test("filtered serve: true top-k AMONG matches, stats over the full corpus") {
    val path = freshPath("filtered")
    LexIndex.saveLexical(taggedDocs.where(!isQ), path, nBuckets = 16,
      metaCols = Seq("lang"))
    val unfiltered = LexIndex.bm25TopKIndexed(spark, path,
      docs.where(isQ), k = 20)
      .as[(Long, Long, Long, Int)].collect().toSeq
    val filtered = LexIndex.bm25TopKIndexed(spark, path,
      docs.where(isQ), k = 5, candWhere = col("lang") === "fr")
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(filtered.nonEmpty)
    // every filtered hit is a non-multiple-of-3 doc (lang = fr)
    assert(filtered.forall(_._2 % 3 != 0))
    // true top-k among matches: per query, exactly the fr-docs of the
    // unfiltered ranking in order, with identical scores (the frozen
    // stats are corpus-wide — the filter never changes a score), ranks
    // renumbered over the survivors
    val byQ = unfiltered.groupBy(_._1)
    for ((q, hits) <- filtered.groupBy(_._1)) {
      val expect = byQ(q).sortBy(_._4).filter(_._2 % 3 != 0).take(5)
      assert(hits.sortBy(_._4).map(h => (h._2, h._3)) ===
        expect.map(h => (h._2, h._3)),
        s"query $q: filtered serve is not the top-k among matches")
    }
    assert(filtered.groupBy(_._1).values.forall(
      h => h.map(_._4).sorted == (1 to h.length)))
  }

  test("metadata append validates against the stored schema; rides the postings") {
    val path = freshPath("metaappend")
    LexIndex.saveLexical(
      taggedDocs.where(!isQ && pmod(col("doc_id"), lit(10)) =!= 9), path,
      nBuckets = 16, metaCols = Seq("lang"))
    // an append missing the store's metadata column fails loudly
    val ex = intercept[IllegalArgumentException] {
      LexIndex.appendLexical(spark, path,
        docs.where(pmod(col("doc_id"), lit(10)) === 9))
    }
    assert(ex.getMessage.contains("lang"))
    // a conforming append serves under the metadata filter: seed with an
    // appended fr-doc's own text — it must surface among the fr matches
    LexIndex.appendLexical(spark, path,
      taggedDocs.where(!isQ && pmod(col("doc_id"), lit(10)) === 9))
    val seed = Seq((1019L, docText(19))).toDF("doc_id", "text")
    val hits = LexIndex.bm25TopKIndexed(spark, path, seed,
      k = 20, candWhere = col("lang") === "fr")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(hits.forall(_._2 % 3 != 0))
    assert(hits.exists(_._2 == 19L), "appended doc not filter-servable")
  }

  test("deleteWhereDocs masks by metadata predicate; idempotent; compact purges") {
    val path = freshPath("delwhere")
    LexIndex.saveLexical(taggedDocs.where(!isQ), path, nBuckets = 16,
      metaCols = Seq("lang"))
    LexIndex.deleteWhereDocs(spark, path, col("lang") === "en")
    val nTomb = LexIndex.deleteStats(spark, path).head().getLong(1)
    // idempotent: a re-run tombstones nothing new
    LexIndex.deleteWhereDocs(spark, path, col("lang") === "en")
    assert(LexIndex.deleteStats(spark, path).head().getLong(1) === nTomb)
    val served = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 20)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(served.nonEmpty)
    assert(served.forall(_._2 % 3 != 0), "a deleted-language doc served")
    // compaction physically purges the masked postings, serve unchanged
    LexIndex.compactLexical(spark, path)
    val after = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 20)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(after.toSet === served.toSet)
    assert(spark.read
      .parquet(Store.liveDir(spark, path, Store.PostingsKind))
      .where(col("lang") === "en").count() === 0L,
      "compaction left masked-language postings behind")
  }

  test("a doc append racing a lexical rebuild aborts it; sidecars intact") {
    val path = freshPath("racelexreb")
    LexIndex.saveLexical(docs.where(!isQ && col("doc_id") < 30), path,
      nBuckets = 16)
    val batch = docs.where(col("doc_id") >= 30)
    val ex = intercept[IllegalStateException] {
      LexIndex.rebuildLexical(docs.where(!isQ), path, 0, Nil,
        () => LexIndex.appendLexical(spark, path, batch))
    }
    assert(ex.getMessage.contains("single-writer"))
    // the aborted rebuild left the store unchanged: the racing batch
    // serves from the live postings, and its df-delta sidecar survives
    // for the next fold (NOT deleted half-consumed)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_rebuild_stage")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/df_deltas")),
      "the racing append's df sidecar was deleted by the aborted rebuild")
    val stored = spark.read
      .parquet(Store.liveDir(spark, path, Store.PostingsKind))
      .select("doc_id").as[Long].collect().toSet
    assert((30L until 40L).forall(stored.contains),
      "the racing append's postings are missing from the live store")
    // quiesced re-run succeeds; serve matches a fresh full build
    LexIndex.rebuildLexical(docs.where(!isQ), path)
    val freshPath2 = freshPath("racelexrebfresh")
    LexIndex.saveLexical(docs.where(!isQ), freshPath2)
    val a = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    val b = LexIndex.bm25TopKIndexed(spark, freshPath2, docs.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(a === b && a.nonEmpty)
  }

  test("a doc append racing a fold aborts it; no delta is half-consumed") {
    val path = freshPath("racelexfold")
    LexIndex.saveLexical(docs.where(!isQ && col("doc_id") < 25), path,
      nBuckets = 16)
    LexIndex.appendLexical(spark, path,
      docs.where(col("doc_id") >= 25 && col("doc_id") < 30))
    def deltaFiles(): Int = {
      val p = new org.apache.hadoop.fs.Path(s"$path/df_deltas")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
    }
    val before = deltaFiles()
    assert(before >= 1)
    val ex = intercept[IllegalStateException] {
      LexIndex.foldStats(spark, path, () => LexIndex.appendLexical(spark,
        path, docs.where(col("doc_id") >= 30)))
    }
    assert(ex.getMessage.contains("single-writer"))
    // BOTH batches' deltas survive the abort: nothing was consumed, the
    // staged terms were discarded, no generation flipped
    assert(deltaFiles() === before + 1,
      "the aborted fold consumed (or dropped) a df-delta sidecar")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_fold_stage")))
    // a quiesced fold then consumes everything and scores bit-equal to a
    // fresh build over the final corpus (the fold_equals_rebuild pin,
    // through the aborted-fold path)
    LexIndex.foldStats(spark, path)
    assert(deltaFiles() === 0)
    val freshP = freshPath("racelexfoldfresh")
    LexIndex.saveLexical(docs.where(!isQ), freshP, nBuckets = 16)
    val a = LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    val b = LexIndex.bm25TopKIndexed(spark, freshP, docs.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(a === b && a.nonEmpty)
  }

  test("stats derived from postings equal the corpus-pass definition " +
      "(tokenless and empty docs included)") {
    // the round-15 optimization derives n_docs/avgdl/sum_dl from the
    // just-written postings (Σ tf) instead of a second corpus tokenize —
    // this pins the identity on exactly the edge shapes the argument
    // rests on: a one-word doc (dl = 0, no postings), an empty-string
    // doc (split → [""], dl = 0), and a null text (dl = 0)
    val path = freshPath("statsid")
    val corpus = docs.where(!isQ)
      .unionByName(Seq((900L, "solo"), (901L, ""))
        .toDF("doc_id", "text"))
      .unionByName(Seq(902L).toDF("doc_id")
        .withColumn("text", lit(null).cast("string")))
    LexIndex.saveLexical(corpus, path, nBuckets = 16)
    val st = spark.read.parquet(s"$path/stats").head()
    // the corpus-pass definition, computed independently
    val expected = corpus
      .select(greatest(size(graft.ml.Portable.words(col("text"))) - 1,
        lit(0)).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s"))
      .head()
    assert(st.getLong(st.fieldIndex("n_docs")) === expected.getLong(0))
    assert(st.getLong(st.fieldIndex("sum_dl")) === expected.getLong(1))
    assert(st.getDouble(st.fieldIndex("avgdl")) ===
      BigDecimal(expected.getLong(1).toDouble / expected.getLong(0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // the append sidecar uses the same identity: fold after appending a
    // batch that ALSO contains a tokenless doc, then compare against a
    // fresh build over the full corpus
    val batch = Seq((910L, docText(11) + " extra"), (911L, "x"))
      .toDF("doc_id", "text")
    LexIndex.appendLexical(spark, path, batch)
    LexIndex.foldStats(spark, path)
    val folded = spark.read.parquet(
      Store.liveDir(spark, path, "terms") + "/_stats").head()
    val freshP = freshPath("statsidfresh")
    LexIndex.saveLexical(corpus.unionByName(batch), freshP, nBuckets = 16)
    val fresh = spark.read.parquet(s"$freshP/stats").head()
    assert(folded.getLong(folded.fieldIndex("n_docs")) ===
      fresh.getLong(fresh.fieldIndex("n_docs")))
    assert(folded.getLong(folded.fieldIndex("sum_dl")) ===
      fresh.getLong(fresh.fieldIndex("sum_dl")))
    assert(folded.getDouble(folded.fieldIndex("avgdl")) ===
      fresh.getDouble(fresh.fieldIndex("avgdl")))
  }

  test("bucket-fused postings build: one exchange carries tf AND layout") {
    import graft.ml.Portable.{words, shingles, h64}
    val corpus = docs.where(!isQ)
    val nb = 16L
    val post = LexIndex.bucketedPostingsOf(corpus, nb, Seq.empty)
    // THE plan contract (guide §2): the tf aggregation must reuse the
    // bucket exchange — a second hash exchange means the exploded term
    // stream is being shuffled twice again (the shape this fusion
    // removed); no broadcast/join belongs in a posting build at all
    val p = post.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"expected exactly one shuffle in the fused postings build:\n$p")
    assert(!p.contains("BroadcastExchange") && !p.contains("Join"), p)
    // value parity with the reference groupBy form of tf
    val ref = corpus
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"),
        greatest(size(col("w")) - 1, lit(0)).cast("long").as("dl"),
        explode(shingles(col("w"), 2)).as("t"))
      .select(col("doc_id"), col("dl"), h64(col("t")).as("th"))
      .groupBy("doc_id", "dl", "th").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(col("th"), lit(nb)))
      .select("doc_id", "dl", "th", "tf", "bucket")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val got = post.select("doc_id", "dl", "th", "tf", "bucket")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.length === got.toSet.size, "duplicate posting rows")
    assert(got.toSet === ref)
    // metadata rides the stream (no doc-table join) with the same rows
    val withMeta = corpus.withColumn("lang",
      concat(lit("l"), pmod(col("doc_id"), lit(3))))
    val postM = LexIndex.bucketedPostingsOf(withMeta, nb, Seq("lang"))
    val pm = postM.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(pm).size === 1, pm)
    assert(!pm.contains("Join"), s"metadata must not join:\n$pm")
    val gotM = postM.select("doc_id", "th", "lang")
      .as[(Long, Long, String)].collect()
    assert(gotM.forall { case (d, _, l) => l == s"l${d % 3}" })
    assert(gotM.length === got.length)
  }
}
