// package graft.ml for access to the Index/Similarity internals the
// equality pins compare against
package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streamed serve must emit EXACTLY the batch serving path's rows,
  * across arbitrary micro-batch splits of the query stream.
  */
class StreamingAnnServeSpec extends SparkSpec {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def emb = (0L until 120L).map { i =>
    val v = (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73).toFloat)
    (i, v)
  }.toDF("vec_id", "embedding")

  private val queryRows = (0L until 120L by 10L).map { i =>
    (i, (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73).toFloat))
  }

  private def freshPath(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_sserve_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def runStream(path: String, pq: Boolean): Set[(Long, Long, Long)] = {
    val input = MemoryStream[(Long, Seq[Float])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    def collect(df: DataFrame, id: Long): Unit = got.synchronized {
      // (query, neighbor, rank) triples identify rows for both flavors
      got ++= df.select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
        .as[(Long, Long, Long)].collect()
    }
    val stream = input.toDF().toDF("vec_id", "embedding")
    val writer =
      if (pq) StreamingAnnServe.serveIvfPq(stream, path, k = 5)(collect)
      else StreamingAnnServe.serveIvf(stream, path, k = 5)(collect)
    val q = writer.start()
    try {
      input.addData(queryRows.take(1)); q.processAllAvailable()
      input.addData(queryRows.slice(1, 7)); q.processAllAvailable()
      input.addData(queryRows.drop(7)); q.processAllAvailable()
    } finally q.stop()
    got.toSet
  }

  test("streamed IVF serve ≡ batch serve, any micro-batch split") {
    val path = freshPath("ivf")
    Index.saveIvf(emb, path)
    val streamed = runStream(path, pq = false)
    val batch = Index.ivfTopKIndexed(spark, path,
        emb.where(pmod(col("vec_id"), lit(10)) === 0), k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streamed FILTERED serve ≡ filtered batch serve") {
    val path = freshPath("filt")
    Index.saveIvf(emb.withColumn("label",
      pmod(col("vec_id"), lit(3)).cast("int")), path, metaCols = Seq("label"))
    val input = MemoryStream[(Long, Seq[Float])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = StreamingAnnServe.serveIvf(
        input.toDF().toDF("vec_id", "embedding"), path, k = 5,
        candWhere = col("label") === 1) { (df, _) =>
      got.synchronized {
        got ++= df.select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
          .as[(Long, Long, Long)].collect()
      }
    }.start()
    try {
      input.addData(queryRows.take(4)); q.processAllAvailable()
      input.addData(queryRows.drop(4)); q.processAllAvailable()
    } finally q.stop()
    val batch = Index.ivfTopKIndexed(spark, path,
        emb.where(pmod(col("vec_id"), lit(10)) === 0), k = 5,
        candWhere = col("label") === 1)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got.toSet === batch)
    assert(got.forall(_._2 % 3 == 1))
    assert(got.nonEmpty)
  }

  test("appendStream ≡ batch append: streamed ingest, then serve") {
    val path = freshPath("appstream")
    Index.saveIvf(emb.where(col("vec_id") < 60), path)
    val input = MemoryStream[(Long, Seq[Float])]
    val arrivals = (60L until 120L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73).toFloat))
    }
    val q = StreamingAnnServe.appendStream(
      input.toDF().toDF("vec_id", "embedding"), path).start()
    try {
      input.addData(arrivals.take(10)); q.processAllAvailable()
      input.addData(arrivals.slice(10, 11)); q.processAllAvailable()
      input.addData(arrivals.drop(11)); q.processAllAvailable()
    } finally q.stop()
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val streamed = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    // base holds the 16 smallest ids → centroids equal the one-shot
    // build's, so the streamed-ingest store must serve identically to
    // the inline operator over the full corpus
    val oneShot = Similarity.ivfTopK(emb, isQ, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(streamed === oneShot)
  }

  test("streamed ingest into a LABELED store derives metadata from the store schema") {
    val path = freshPath("appstreammeta")
    val withLabel = emb.withColumn("label", pmod(col("vec_id"), lit(3)).cast("int"))
    Index.saveIvf(withLabel.where(col("vec_id") < 60), path,
      metaCols = Seq("label"))
    val input = MemoryStream[(Long, Seq[Float], Int)]
    val arrivals = (60L until 120L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73).toFloat),
        (i % 3).toInt)
    }
    // NO metaCols passed: the store's schema decides — streamed rows
    // must land with their label and stay visible to a filtered serve
    val q = StreamingAnnServe.appendStream(
      input.toDF().toDF("vec_id", "embedding", "label"), path).start()
    try {
      input.addData(arrivals.take(30)); q.processAllAvailable()
      input.addData(arrivals.drop(30)); q.processAllAvailable()
    } finally q.stop()
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val got = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5,
        candWhere = col("label") === 1)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got.forall(_._2 % 3 == 1))
    assert(got.exists(_._2 >= 60L),
      "streamed-in labeled vector never surfaced in the filtered serve")
  }

  test("appendStreamPq ≡ batch append: streamed compressed ingest, then serve") {
    val path = freshPath("appstreampq")
    Index.saveIvfPq(emb.where(col("vec_id") < 60), path)
    val input = MemoryStream[(Long, Seq[Float])]
    val arrivals = (60L until 120L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73).toFloat))
    }
    val q = StreamingAnnServe.appendStreamPq(
      input.toDF().toDF("vec_id", "embedding"), path).start()
    try {
      input.addData(arrivals.take(25)); q.processAllAvailable()
      input.addData(arrivals.drop(25)); q.processAllAvailable()
    } finally q.stop()
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val streamed = Index.ivfPqTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    // base holds the 16 smallest ids → frozen centroid AND codebook seed
    // sets equal the one-shot build's
    val oneShot = Similarity.ivfPqTopK(emb, isQ, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(streamed === oneShot)
  }

  test("a live query stream survives a store rebuild mid-stream") {
    // the 100-TB operational shape: maintenance runs UNDER a serving
    // stream. Micro-batches re-resolve the live generations per batch,
    // so pre-flip batches answer from the old snapshot, post-flip
    // batches from the rebuilt store — and nothing crashes in between
    // (the old generations survive as the grace window)
    val path = freshPath("rebuildstream")
    Index.saveIvf(emb.where(col("vec_id") < 60), path, nCells = 4)
    Index.appendIvf(spark, path, emb.where(col("vec_id") >= 60))
    // an identical twin store, NEVER rebuilt — the pre-flip answer key
    val twin = freshPath("rebuildstreamtwin")
    Index.saveIvf(emb.where(col("vec_id") < 60), twin, nCells = 4)
    Index.appendIvf(spark, twin, emb.where(col("vec_id") >= 60))
    val input = MemoryStream[(Long, Seq[Float])]
    val batches = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Set[(Long, Long, Long)])]
    val q = StreamingAnnServe.serveIvf(
        input.toDF().toDF("vec_id", "embedding"), path, k = 5) { (df, id) =>
      batches.synchronized {
        batches += ((id,
          df.select(col("query_id"), col("neighbor_id"),
              col("rank").cast("long"))
            .as[(Long, Long, Long)].collect().toSet))
      }
    }.start()
    try {
      input.addData(queryRows.take(6)); q.processAllAvailable()
      Index.rebuild(spark, path) // the flip, mid-stream
      input.addData(queryRows.drop(6)); q.processAllAvailable()
    } finally q.stop()
    val pre = batches.synchronized(batches.filter(_._1 == 0))
      .flatMap(_._2).toSet
    val post = batches.synchronized(batches.filter(_._1 > 0))
      .flatMap(_._2).toSet
    assert(pre.nonEmpty && post.nonEmpty)
    // pre-flip batches answered from the pre-rebuild (diluted) snapshot
    val isPre = pmod(col("vec_id"), lit(10)) === 0 && col("vec_id") < 60
    val oldKey = Index.ivfTopKIndexed(spark, twin, emb.where(isPre), k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(pre === oldKey,
      "pre-rebuild micro-batches diverged from the old snapshot's serve")
    // post-flip batches answer exactly what the rebuilt store serves
    val isPost = pmod(col("vec_id"), lit(10)) === 0 && col("vec_id") >= 60
    val fresh = Index.ivfTopKIndexed(spark, path, emb.where(isPost), k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(post === fresh,
      "post-rebuild micro-batches diverged from the rebuilt store's serve")
  }

  // ---- the lexical (BM25) streaming twins ----

  private val lexVocab = Array("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa", "lam", "mu")
  private def lexText(i: Long): String =
    (0 until (4 + (i % 4)).toInt)
      .map(j => lexVocab(((i * 7 + j * 3 + i * j) % 12).toInt)).mkString(" ")
  private def lexDocs = (0L until 40L).map(i => (i, lexText(i)))
    .toDF("doc_id", "text")

  test("streamed lexical serve ≡ batch serve, any micro-batch split") {
    val path = freshPath("lex")
    LexIndex.saveLexical(lexDocs.where(col("doc_id") >= 4), path, nBuckets = 16)
    val input = MemoryStream[(Long, String)]
    val seeds = (0L until 4L).map(i => (i, lexText(i)))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = StreamingAnnServe.serveLexical(
        input.toDF().toDF("doc_id", "text"), path, k = 5) { (df, _) =>
      got.synchronized {
        got ++= df.select(col("query_id"), col("doc_id"), col("score_micro"),
          col("rank").cast("long")).as[(Long, Long, Long, Long)].collect()
      }
    }.start()
    try {
      input.addData(seeds.take(1)); q.processAllAvailable()
      input.addData(seeds.slice(1, 3)); q.processAllAvailable()
      input.addData(seeds.drop(3)); q.processAllAvailable()
    } finally q.stop()
    val batch = LexIndex.bm25TopKIndexed(spark, path,
        lexDocs.where(col("doc_id") < 4), k = 5)
      .select(col("query_id"), col("doc_id"), col("score_micro"),
        col("rank").cast("long")).as[(Long, Long, Long, Long)].collect().toSet
    assert(got.toSet === batch)
    assert(got.nonEmpty)
  }

  test("appendStreamLex ≡ batch append: streamed docs, frozen stats, then serve") {
    val streamPath = freshPath("lexappstream")
    val batchPath = freshPath("lexappbatch")
    val base = lexDocs.where(col("doc_id") >= 4 && col("doc_id") < 30)
    val rest = (30L until 40L).map(i => (i, lexText(i)))
    LexIndex.saveLexical(base, streamPath, nBuckets = 16)
    LexIndex.saveLexical(base, batchPath, nBuckets = 16)
    val input = MemoryStream[(Long, String)]
    val q = StreamingAnnServe.appendStreamLex(
      input.toDF().toDF("doc_id", "text"), streamPath).start()
    try {
      input.addData(rest.take(3)); q.processAllAvailable()
      input.addData(rest.slice(3, 4)); q.processAllAvailable()
      input.addData(rest.drop(4)); q.processAllAvailable()
    } finally q.stop()
    LexIndex.appendLexical(spark, batchPath, rest.toDF("doc_id", "text"))
    val isQ = col("doc_id") < 4
    def serve(p: String) =
      LexIndex.bm25TopKIndexed(spark, p, lexDocs.where(isQ), k = 10)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Int)].collect().toSeq
    val streamed = serve(streamPath)
    assert(streamed === serve(batchPath))
    assert(streamed.exists(_._2 >= 30L),
      "no streamed-in document ever surfaced")
  }

  test("streamed IVF-PQ serve ≡ batch serve, any micro-batch split") {
    val path = freshPath("pq")
    Index.saveIvfPq(emb, path)
    val streamed = runStream(path, pq = true)
    val batch = Index.ivfPqTopKIndexed(spark, path,
        emb.where(pmod(col("vec_id"), lit(10)) === 0), k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streamed SQ serve + ingest ≡ batch, any micro-batch split") {
    val path = freshPath("sqstream")
    Index.saveIvfSq(emb.where(col("vec_id") < 60), path)
    val ingestInput = MemoryStream[(Long, Seq[Float])]
    val arrivals = (60L until 120L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73).toFloat))
    }
    val iq = StreamingAnnServe.appendStreamSq(
      ingestInput.toDF().toDF("vec_id", "embedding"), path).start()
    try {
      ingestInput.addData(arrivals.take(20)); iq.processAllAvailable()
      ingestInput.addData(arrivals.drop(20)); iq.processAllAvailable()
    } finally iq.stop()
    val input = MemoryStream[(Long, Seq[Float])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    val sq = StreamingAnnServe.serveIvfSq(
      input.toDF().toDF("vec_id", "embedding"), path, k = 5) { (df, _) =>
      got.synchronized {
        got ++= df.select("query_id", "neighbor_id", "rank")
          .as[(Long, Long, Int)].collect()
      }
    }.start()
    try {
      input.addData(queryRows.take(3)); sq.processAllAvailable()
      input.addData(queryRows.drop(3)); sq.processAllAvailable()
    } finally sq.stop()
    val batch = Index.ivfSqTopKIndexed(spark, path,
        emb.where(pmod(col("vec_id"), lit(10)) === 0), k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got.toSet === batch)
    assert(got.nonEmpty)
  }

  test("streamed MRL serve + ingest \u2261 batch, any micro-batch split") {
    val path = freshPath("mrlstream")
    Index.saveIvfMrl(emb.where(col("vec_id") < 60), path, prefixDims = 4)
    val ingestInput = MemoryStream[(Long, Seq[Float])]
    val arrivals = (60L until 120L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73).toFloat))
    }
    val iq = StreamingAnnServe.appendStreamMrl(
      ingestInput.toDF().toDF("vec_id", "embedding"), path).start()
    try {
      ingestInput.addData(arrivals.take(20)); iq.processAllAvailable()
      ingestInput.addData(arrivals.drop(20)); iq.processAllAvailable()
    } finally iq.stop()
    val input = MemoryStream[(Long, Seq[Float])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    val mq = StreamingAnnServe.serveIvfMrl(
      input.toDF().toDF("vec_id", "embedding"), path, k = 5) { (df, _) =>
      got.synchronized {
        got ++= df.select("query_id", "neighbor_id", "rank")
          .as[(Long, Long, Int)].collect()
      }
    }.start()
    try {
      input.addData(queryRows.take(3)); mq.processAllAvailable()
      input.addData(queryRows.drop(3)); mq.processAllAvailable()
    } finally mq.stop()
    val batch = Index.ivfMrlRerankTopKIndexed(spark, path,
        emb.where(pmod(col("vec_id"), lit(10)) === 0), k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got.toSet === batch)
    assert(got.nonEmpty)
    // the streamed ingest actually reached both flavors: appended ids
    // serve from the prefix shortlist
    assert(got.exists(_._2 >= 60L), "streamed-ingested rows never served")
  }

  test("a streamed ingest cannot land inside a rebuild's lease window") {
    // round 14 let the micro-batch land and aborted the REBUILD at its
    // publish fence — correct but expensive (hours of staged work lost
    // to one micro-batch). The round-15 writer lease inverts the
    // priority to first-come-first-served: the rebuild holds the
    // store's lease for its whole window, the racing micro-batch fails
    // AT ACQUISITION before writing anything (the Delta/Iceberg
    // concurrent-writer contract), the ingest query surfaces the
    // failure loudly, and the source-side retry lands the batch once
    // the window is free — at-least-once ingest, never a silent loss,
    // never a torn flavor pair.
    val path = freshPath("racestreamreb")
    Index.saveIvfMrl(emb.where(col("vec_id") < 100), path, prefixDims = 4)
    def batchRows = (100L until 110L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73).toFloat))
    }
    val input = MemoryStream[(Long, Seq[Float])]
    val iq = StreamingAnnServe.appendStreamMrl(
      input.toDF().toDF("vec_id", "embedding"), path).start()
    try {
      val ex = intercept[Exception] {
        Index.rebuild(spark, path, () => {
          input.addData(batchRows)
          iq.processAllAvailable() // rethrows the micro-batch failure
        })
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(_.getMessage != null)
        && causes(ex).exists(c =>
          c.getMessage != null && c.getMessage.contains("writer lease")),
        s"expected a lease-acquisition failure in the cause chain: $ex")
    } finally iq.stop()
    // the blocked micro-batch wrote NOTHING — neither flavor carries it
    // (no torn prefix/raw pair, the silent-recall-loss shape)
    val stored = spark.read
      .parquet(Store.liveDir(spark, path, Store.MrlCodesKind))
      .select("vec_id").as[Long].collect().toSet
    assert(!stored.exists(_ >= 100L),
      "a lease-blocked streamed micro-batch still wrote rows")
    // the rebuild itself aborted with the midHook's failure (nothing
    // published), the lease is free — the source-side RETRY lands the
    // batch, then the quiesced rebuild succeeds over the full corpus
    val input2 = MemoryStream[(Long, Seq[Float])]
    val iq2 = StreamingAnnServe.appendStreamMrl(
      input2.toDF().toDF("vec_id", "embedding"), path).start()
    try {
      input2.addData(batchRows)
      iq2.processAllAvailable()
    } finally iq2.stop()
    val replayed = spark.read
      .parquet(Store.liveDir(spark, path, Store.MrlCodesKind))
      .select("vec_id").as[Long].collect().toSet
    assert((100L until 110L).forall(replayed.contains),
      "the retried micro-batch is missing from the live store")
    Index.rebuild(spark, path)
    assert(Index.stats(spark, path).head().getLong(0) === 110L)
  }

  // ---- CDC ingest: streamed deletes / upserts ----

  private val isQ = pmod(col("vec_id"), lit(10)) === 0

  test("deleteStream ≡ batch delete, any micro-batch split") {
    val path = freshPath("delstream")
    Index.saveIvf(emb, path)
    val input = MemoryStream[Long]
    val ids = Seq(11L, 21L, 31L, 41L, 51L, 61L)
    val q = StreamingAnnServe.deleteStream(
      input.toDF().toDF("vec_id"), path).start()
    try {
      input.addData(ids.take(2)); q.processAllAvailable()
      input.addData(ids.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val streamed = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 40)
      .orderBy("query_id", "rank").collect().toSeq
    // reference: the same store with the same ids deleted in ONE batch
    val ref = freshPath("delstreamref")
    Index.saveIvf(emb, ref)
    Index.delete(spark, ref, ids.toDF("vec_id"))
    val batch = Index.ivfTopKIndexed(spark, ref, emb.where(isQ), k = 40)
      .orderBy("query_id", "rank").collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("upsertStream replay has exactly-once EFFECT (newest version serves)") {
    val path = freshPath("upstream")
    Index.saveIvf(emb, path)
    // vec 17 rewritten onto query 30's vector — the post-upsert nearest
    val q30 = (0 until 8).map(d => math.sin(30L * 1.37 + d * 0.73).toFloat)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnnServe.upsertStream(
      input.toDF().toDF("vec_id", "embedding"), path).start()
    try {
      input.addData(Seq((17L, q30))); q.processAllAvailable()
    } finally q.stop()
    // simulate at-least-once REPLAY of the same micro-batch: foreachBatch
    // re-invokes the same body on recovery — call it again, twice
    Index.upsertIvf(spark, path, Seq((17L, q30)).toDF("vec_id", "embedding"))
    Index.upsertIvf(spark, path, Seq((17L, q30)).toDF("vec_id", "embedding"))
    val served = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 40)
    // exactly ONE version of 17 serves, with the NEW vector's cosine
    assert(served.groupBy("query_id", "neighbor_id").count()
      .where(col("count") > 1).count() === 0L)
    val hit = served
      .where(col("query_id") === 30L && col("neighbor_id") === 17L)
      .select("cosine").as[Double].collect()
    assert(hit.toSeq === Seq(1.0))
    // and the store really does hold the replayed dead versions (the
    // idempotence is in the MASKING, not in suppressed writes)
    val r = Index.deleteStats(spark, path).head()
    assert(r.getLong(0) === 123L) // 120 build + 3 upsert versions
    assert(r.getLong(2) === 3L)   // build v0 + two replays' appends dead
  }

  test("deleteStreamLex + upsertStreamLex: streamed doc CDC serves the new state") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    val docsDf = (0L until 40L).map { i =>
      (i, (0 until (4 + (i % 4)).toInt)
        .map(j => vocab(((i * 7 + j * 3 + i * j) % 12).toInt)).mkString(" "))
    }.toDF("doc_id", "text")
    val isQd = col("doc_id") < 4
    val path = freshPath("lexcdc")
    LexIndex.saveLexical(docsDf.where(!isQd), path, nBuckets = 16)
    val delInput = MemoryStream[Long]
    val dq = StreamingAnnServe.deleteStreamLex(
      delInput.toDF().toDF("doc_id"), path).start()
    try { delInput.addData(Seq(13L)); dq.processAllAvailable() }
    finally dq.stop()
    assert(LexIndex.bm25TopKIndexed(spark, path, docsDf.where(isQd), k = 20)
      .where(col("doc_id") === 13L).count() === 0L)
    val upInput = MemoryStream[(Long, String)]
    val newText = docsDf.where(col("doc_id") === 1L)
      .select("text").as[String].head()
    val uq = StreamingAnnServe.upsertStreamLex(
      upInput.toDF().toDF("doc_id", "text"), path).start()
    try { upInput.addData(Seq((13L, newText))); uq.processAllAvailable() }
    finally uq.stop()
    // revived with the NEW text: doc 13 serves again for query 1
    assert(LexIndex.bm25TopKIndexed(spark, path, docsDf.where(isQd), k = 20)
      .where(col("query_id") === 1L && col("doc_id") === 13L)
      .count() === 1L)
  }
}
