package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted-index serving path: round-trip equality with the inline
  * operators (the sf-scale oracle hash is the driver's t2 gate) plus the
  * serving contracts the inline path cannot express — external queries
  * and the probed-cell partition prune.
  */
class IndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_idx_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  // 120 unit-ish vectors over 8 dims, 20 centroids' worth of spread —
  // enough that probe sets differ per query and cells are non-trivial
  private def emb = (0L until 120L).map { i =>
    val v = (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73).toFloat)
    (i, v)
  }.toDF("vec_id", "embedding")

  test("ivfTopKIndexed round-trips bit-equal to inline ivfTopK") {
    val path = freshPath("ivf")
    Index.saveIvf(emb, path)
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val inline = Similarity.ivfTopK(emb, isQ, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val served = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(served === inline)
    assert(served.nonEmpty)
  }

  test("ivfPqTopKIndexed round-trips bit-equal to inline ivfPqTopK") {
    val path = freshPath("ivfpq")
    Index.saveIvfPq(emb, path)
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val inline = Similarity.ivfPqTopK(emb, isQ, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    val served = Index.ivfPqTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(served === inline)
    assert(served.nonEmpty)
  }

  test("ivfPqRerankTopKIndexed round-trips bit-equal to inline ivfPqRerankTopK") {
    val path = freshPath("rerank")
    Index.saveIvfPq(emb, path, withRaw = true)
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val inline = Similarity.ivfPqRerankTopK(emb, isQ, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val served = Index.ivfPqRerankTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(served === inline)
    assert(served.nonEmpty)
  }

  test("ADC serves slice subvectors right on a legacy marker without n_sub") {
    // stores written before the `n_sub` marker column must still serve
    // with their own subspace width, not the 8-subspace default
    val path = freshPath("legacynsub")
    Index.saveIvfPq(emb, path, nSub = 4, withRaw = true)
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    def serves(): (Seq[(Long, Long, Long, Int)], Seq[(Long, Long, Double, Int)]) = (
      Index.ivfPqTopKIndexed(spark, path, emb.where(isQ), k = 5)
        .orderBy("query_id", "rank").as[(Long, Long, Long, Int)].collect().toSeq,
      Index.ivfPqRerankTopKIndexed(spark, path, emb.where(isQ), k = 5, rerank = 8)
        .orderBy("query_id", "rank").as[(Long, Long, Double, Int)].collect().toSeq)
    val intact = serves()
    Seq((false, false, 16, 3, false))
      .toDF("residual", "trained", "n_code", "train_iters", "flat")
      .write.mode("overwrite").parquet(s"$path/meta")
    assert(!spark.read.parquet(s"$path/meta").columns.contains("n_sub"))
    assert(serves() === intact)
    assert(intact._1.nonEmpty && intact._2.nonEmpty)
  }

  test("rerank serve fails loudly on a codes-only store (no raw flavor)") {
    val path = freshPath("rerankraw")
    Index.saveIvfPq(emb, path) // withRaw = false: no postings/
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val ex = intercept[IllegalArgumentException] {
      Index.ivfPqRerankTopKIndexed(spark, path, emb.where(isQ), k = 5)
    }
    assert(ex.getMessage.contains("withRaw"))
  }

  test("rerank serve prunes BOTH store flavors to the probed cells") {
    val path = freshPath("rerankprune")
    Index.saveIvfPq(emb, path, withRaw = true)
    val df = Index.ivfPqRerankTopKIndexed(spark, path,
      emb.where(col("vec_id") === 7L), k = 5)
    val plan = df.queryExecution.executedPlan.toString
    // two pruned scans: pq_codes (shortlist) and postings (refine)
    val prunedScans = "PartitionFilters: \\[[^\\]]*cell#\\d+L? IN".r
      .findAllIn(plan).length
    assert(prunedScans >= 2,
      s"expected probed-cell partition filters on both flavors, " +
        s"found $prunedScans:\n$plan")
  }

  test("appendIvfPq keeps a combined store's raw flavor in step") {
    // inputs: a PQ+raw store and an SQ+raw store, each appended and
    // served through its own rerank (the refine reads the raw flavor)
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val inputs: Seq[(String, String => Unit, String => Unit,
        String => DataFrame)] = Seq(
      ("pq",
        Index.saveIvfPq(emb.where(col("vec_id") < 100), _, withRaw = true),
        Index.appendIvfPq(spark, _, emb.where(col("vec_id") >= 100)),
        Index.ivfPqRerankTopKIndexed(spark, _, emb.where(isQ), k = 5)),
      ("sq",
        Index.saveIvfSq(emb.where(col("vec_id") < 100), _, withRaw = true),
        Index.appendIvfSq(spark, _, emb.where(col("vec_id") >= 100)),
        Index.ivfSqRerankTopKIndexed(spark, _, emb.where(isQ), k = 5)))
    for ((tag, save, append, serve) <- inputs) {
      val path = freshPath(s"rerankappend_$tag")
      save(path)
      append(path)
      // appended vectors must be refinable: raw rows exist for them
      val raw = spark.read.parquet(
        Index.liveDir(spark, path, Index.PostingsKind))
      assert(raw.where(col("vec_id") >= 100).count() === 20L,
        s"$tag: appended vectors missing from the raw refine flavor")
      val got = serve(path)
        .as[(Long, Long, Double, Int)].collect().toSeq
      assert(got.nonEmpty, tag)
      assert(got.forall(r => r._1 != r._2), s"$tag: self-exclusion broken")
    }
  }

  test("residual store: serves, self-excludes, appends ride the frozen coding") {
    val path = freshPath("residual")
    Index.saveIvfPq(emb.where(col("vec_id") < 100), path,
      trained = true, residual = true)
    assert(Index.isResidual(spark, path))
    Index.appendIvfPq(spark, path, emb.where(col("vec_id") >= 100))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val got = Index.ivfPqTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall(r => r._1 != r._2), "self-exclusion broken")
    assert(got.exists(_._2 >= 100L),
      "appended vectors not discoverable in the residual store")
    // the appended rows' codes were residual-encoded: every appended
    // vec_id carries nSub code rows in the live codes dir
    val codes = spark.read.parquet(
      Index.liveDir(spark, path, Index.PqCodesKind))
    assert(codes.where(col("vec_id") === 110L).count() === 8L)
  }

  test("residual coding beats absolute coding on a clustered corpus") {
    // 10 families of 12 near-identical vectors (jitter ±0.01) spread by
    // family offsets — the structure residual ADC can resolve and
    // absolute ADC (16 codewords tiling the whole spread) cannot
    val fam = (0L until 120L).map { i =>
      val f = (i % 10).toInt
      val v = (0 until 8).map(d =>
        (math.sin(f * 2.13 + d * 1.41) +
          math.sin(i * 0.913 + d * 0.57) * 0.01).toFloat)
      (i, v)
    }.toDF("vec_id", "embedding")
    val isQ = col("vec_id") < 10
    val exact = Similarity.bruteForceTopK(fam, isQ, 10)
    def recallOf(path: String): Double =
      Similarity.recallOf(exact,
          Index.ivfPqTopKIndexed(spark, path, fam.where(isQ), k = 10), 10)
        .head().getDouble(0)
    val absPath = freshPath("residabs")
    Index.saveIvfPq(fam, absPath, trained = true)
    val resPath = freshPath("residres")
    Index.saveIvfPq(fam, resPath, trained = true, residual = true)
    val (rAbs, rRes) = (recallOf(absPath), recallOf(resPath))
    assert(rRes > rAbs,
      s"residual coding ($rRes) did not beat absolute coding ($rAbs)")
    assert(rRes >= 0.5, s"residual recall $rRes below the useful range")
  }

  test("residual SQ beats absolute SQ on a clustered corpus — no training needed") {
    // same family fixture as the PQ residual pin: the int8 step shrinks
    // from corpus scale (max|x|/127) to cell scale (max|resid|/127), so
    // within-family order becomes resolvable — and unlike residual PQ
    // there is no codebook to train (per-vector scales adapt alone)
    val fam = (0L until 120L).map { i =>
      val f = (i % 10).toInt
      val v = (0 until 8).map(d =>
        (math.sin(f * 2.13 + d * 1.41) +
          math.sin(i * 0.913 + d * 0.57) * 0.01).toFloat)
      (i, v)
    }.toDF("vec_id", "embedding")
    val isQ = col("vec_id") < 10
    val exact = Similarity.bruteForceTopK(fam, isQ, 10)
    def recallOf(path: String): Double =
      Similarity.recallOf(exact,
          Index.ivfSqTopKIndexed(spark, path, fam.where(isQ), k = 10), 10)
        .head().getDouble(0)
    val absPath = freshPath("sqresabs")
    Index.saveIvfSq(fam, absPath)
    val resPath = freshPath("sqresres")
    Index.saveIvfSq(fam, resPath, residual = true)
    val (rAbs, rRes) = (recallOf(absPath), recallOf(resPath))
    assert(rRes > rAbs,
      s"residual SQ ($rRes) did not beat absolute SQ ($rAbs)")
    assert(rRes >= 0.8, s"residual SQ recall $rRes below the useful range")
    // the residual store's mutation lifecycle holds: append then delete
    Index.appendIvfSq(spark, resPath, fam.withColumn("vec_id",
      col("vec_id") + 1000).where(col("vec_id") === 1017L))
    Index.delete(spark, resPath, Seq(17L).toDF("vec_id"))
    val served = Index.ivfSqTopKIndexed(spark, resPath, fam.where(isQ), k = 40)
      .select("neighbor_id").as[Long].collect().toSet
    assert(served.contains(1017L) && !served.contains(17L))
  }

  test("residual SQ rerank shortlists with the store's OWN coding") {
    // the family corpus is exactly where coding matters: an absolute
    // integer-dot shortlist over residual-coded bytes ranks garbage (the
    // bytes encode x − c, not x), and the exact refine can only re-score
    // what the shortlist kept — so recall collapses silently. With the
    // coding-aware shortlist the rerank serve is near-exact here.
    val fam = (0L until 120L).map { i =>
      val f = (i % 10).toInt
      val v = (0 until 8).map(d =>
        (math.sin(f * 2.13 + d * 1.41) +
          math.sin(i * 0.913 + d * 0.57) * 0.01).toFloat)
      (i, v)
    }.toDF("vec_id", "embedding")
    val isQ = col("vec_id") < 10
    val path = freshPath("sqresrerank")
    Index.saveIvfSq(fam, path, residual = true, withRaw = true)
    val exact = Similarity.bruteForceTopK(fam, isQ, 10)
    val got = Index.ivfSqRerankTopKIndexed(spark, path, fam.where(isQ),
      k = 10, rerank = 12)
    val rec = Similarity.recallOf(exact, got, 10).head().getDouble(0)
    assert(rec >= 0.9,
      s"residual SQ rerank recall $rec — the shortlist is not using the " +
        "store's residual coding")
    // and the exhaustive-shortlist identity holds on the residual store
    // too: full probes + a shortlist holding every candidate → the
    // refine IS the exact serve, bit-for-bit
    val nCells = spark.read.parquet(s"$path/centroids").count().toInt
    val reranked = Index.ivfSqRerankTopKIndexed(spark, path, fam.where(isQ),
        k = 5, rerank = 119, nProbe = nCells)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val exactServe = Index.ivfTopKIndexed(spark, path, fam.where(isQ),
        k = 5, nProbe = nCells)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(reranked === exactServe)
    assert(reranked.nonEmpty)
  }

  test("rerank serve composes with a residual store") {
    val path = freshPath("residrerank")
    Index.saveIvfPq(emb, path, trained = true, residual = true, withRaw = true)
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val got = Index.ivfPqRerankTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall(r => r._1 != r._2))
    // refine output is the exact cosine contract (matches ivfTopKIndexed)
    assert(got.forall(r => r._3 >= -1.000001 && r._3 <= 1.000001))
  }

  test("serving answers EXTERNAL queries (ids not in the stored corpus)") {
    val path = freshPath("ext")
    Index.saveIvf(emb, path)
    // a query vector not stored in the index: no self-exclusion applies,
    // every stored vector in its probed cells is a candidate
    val q = Seq((1000L, (0 until 8).map(d => math.sin(3.1 + d * 0.73).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Index.ivfTopKIndexed(spark, path, q, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(out.map(_._1).toSet === Set(1000L))
    assert(out.map(_._4) === Seq(1, 2, 3, 4, 5))
    assert(out.forall(r => r._2 >= 0L && r._2 < 120L))
  }

  test("serving scan prunes to the probed cell partitions") {
    val path = freshPath("prune")
    Index.saveIvf(emb, path)
    val isQ = col("vec_id") === 7L // one query → at most nProbe cells read
    val df = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
    val plan = df.queryExecution.executedPlan.toString
    // the postings scan must carry a partition filter on cell — reading
    // every cell directory would be a full-corpus scan per query batch
    assert(plan.contains("PartitionFilters") && plan.contains("cell#"),
      s"no partition filter on the postings scan:\n$plan")
    val probed = "cell#\\d+L? IN \\(([^)]*)\\)".r
      .findFirstMatchIn(plan).map(_.group(1).split(",").length)
    assert(probed.exists(_ <= 4), s"probe list not bounded by nProbe: $probed")
  }

  test("appendIvf: split build+append serves bit-equal to a one-shot build") {
    // base holds the 16 smallest vec_ids → the frozen centroid set equals
    // the one-shot build's, so the two stores must serve identical results.
    // Inputs: the raw store against the inline operator, and absolute and
    // residual SQ against a one-shot SQ build of the same coding
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    type Build = (DataFrame, String) => Unit
    def sq(residual: Boolean): (Build, String => Unit, String => DataFrame) =
      (Index.saveIvfSq(_, _, residual = residual),
        Index.appendIvfSq(spark, _, emb.where(col("vec_id") >= 60)),
        Index.ivfSqTopKIndexed(spark, _, emb.where(isQ), k = 5))
    val raw: (String, Build, String => Unit, String => DataFrame,
        () => DataFrame) =
      ("ivf", Index.saveIvf(_, _),
        Index.appendIvf(spark, _, emb.where(col("vec_id") >= 60)),
        Index.ivfTopKIndexed(spark, _, emb.where(isQ), k = 5),
        () => Similarity.ivfTopK(emb, isQ, k = 5))
    val inputs = raw +: Seq(false, true).map { residual =>
      val (build, append, serve) = sq(residual)
      (s"sq_residual_$residual", build, append, serve, { () =>
        val p = freshPath(s"append_oneshot_$residual")
        build(emb, p)
        serve(p)
      })
    }
    for ((tag, build, append, serve, oneShotOf) <- inputs) {
      val path = freshPath(s"append_$tag")
      build(emb.where(col("vec_id") < 60), path)
      append(path)
      val served = serve(path)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Double, Int)].collect().toSeq
      val oneShot = oneShotOf()
        .orderBy("query_id", "rank")
        .as[(Long, Long, Double, Int)].collect().toSeq
      assert(served === oneShot, tag)
      // appended vectors are really discoverable: some neighbor id >= 60
      assert(served.exists(_._2 >= 60L), s"$tag: no appended vector ever surfaced")
    }
  }

  test("appendIvfPq: split build+append serves bit-equal to a one-shot build") {
    // base holds the 16 smallest vec_ids → BOTH frozen quantizer seed
    // sets (coarse centroids and PQ codebook) equal the one-shot build's
    val path = freshPath("pqappend")
    Index.saveIvfPq(emb.where(col("vec_id") < 60), path)
    Index.appendIvfPq(spark, path, emb.where(col("vec_id") >= 60))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val served = Index.ivfPqTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    val oneShot = Similarity.ivfPqTopK(emb, isQ, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(served === oneShot)
    assert(served.exists(_._2 >= 60L), "no appended vector ever surfaced")
  }

  test("compact folds per-append files to one per cell, serve bit-equal") {
    val path = freshPath("compact")
    Index.saveIvf(emb.where(col("vec_id") < 60), path)
    Index.appendIvf(spark, path, emb.where(col("vec_id") >= 60 && col("vec_id") < 90))
    Index.appendIvf(spark, path, emb.where(col("vec_id") >= 90))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val before = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    def filesPerCell: Map[String, Int] = {
      val post = new java.io.File(
        Index.liveDir(spark, path, Index.PostingsKind).stripPrefix("file:"))
      post.listFiles().filter(_.getName.startsWith("cell=")).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    assert(filesPerCell.values.exists(_ > 1), "appends never split a cell — fixture too weak")
    Index.compact(spark, path)
    assert(filesPerCell.values.forall(_ === 1), s"compaction left multi-file cells: $filesPerCell")
    val after = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(after === before)
  }

  test("compact also folds the PQ codes store, serve bit-equal") {
    val path = freshPath("pqcompact")
    Index.saveIvfPq(emb.where(col("vec_id") < 60), path)
    Index.appendIvfPq(spark, path, emb.where(col("vec_id") >= 60 && col("vec_id") < 90))
    Index.appendIvfPq(spark, path, emb.where(col("vec_id") >= 90))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val before = Index.ivfPqTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    def filesPerCell: Map[String, Int] = {
      val post = new java.io.File(
        Index.liveDir(spark, path, Index.PqCodesKind).stripPrefix("file:"))
      post.listFiles().filter(_.getName.startsWith("cell=")).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    assert(filesPerCell.values.exists(_ > 1), "appends never split a cell — fixture too weak")
    Index.compact(spark, path)
    assert(filesPerCell.values.forall(_ === 1), s"compaction left multi-file cells: $filesPerCell")
    val after = Index.ivfPqTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(after === before)
  }

  test("filtered serve = top-k AMONG matches, predicate pushed to the scan") {
    val path = freshPath("filtered")
    val withLabel = emb.withColumn("label", pmod(col("vec_id"), lit(3)).cast("int"))
    Index.saveIvf(withLabel, path, metaCols = Seq("label"))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val filtered = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5,
      candWhere = col("label") === 1)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("label"),
      s"label predicate not pushed into the postings scan:\n$plan")
    val got = filtered.orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    // reference: UNFILTERED serve deep enough to hold every candidate,
    // then filter-then-rerank — filter-before-rank semantics, not a
    // rank-then-filter that could return fewer than k while matches exist
    val all = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 120)
      .as[(Long, Long, Double, Int)].collect()
    val expected = all.filter(_._2 % 3 == 1)
      .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
          .map { case (r, i) => (qid, r._2, r._3, i + 1) }
      }.sortBy(r => (r._1, r._4))
    assert(got === expected)
    assert(got.forall(_._2 % 3 == 1))
    assert(got.nonEmpty)
  }

  test("filtered PQ serve = ADC top-k AMONG matches") {
    val path = freshPath("pqfiltered")
    val withLabel = emb.withColumn("label", pmod(col("vec_id"), lit(3)).cast("int"))
    Index.saveIvfPq(withLabel, path, metaCols = Seq("label"))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val got = Index.ivfPqTopKIndexed(spark, path, emb.where(isQ), k = 5,
        candWhere = col("label") === 1)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    val all = Index.ivfPqTopKIndexed(spark, path, emb.where(isQ), k = 120)
      .as[(Long, Long, Long, Int)].collect()
    val expected = all.filter(_._2 % 3 == 1)
      .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy(r => (r._3, r._2)).take(5).zipWithIndex
          .map { case (r, i) => (qid, r._2, r._3, i + 1) }
      }.sortBy(r => (r._1, r._4))
    assert(got === expected)
    assert(got.forall(_._2 % 3 == 1))
    assert(got.nonEmpty)
  }

  test("append with metaCols keeps appended vectors visible to a filtered serve") {
    val path = freshPath("appendmeta")
    val withLabel = emb.withColumn("label", pmod(col("vec_id"), lit(3)).cast("int"))
    Index.saveIvf(withLabel.where(col("vec_id") < 60), path, metaCols = Seq("label"))
    Index.appendIvf(spark, path, withLabel.where(col("vec_id") >= 60),
      metaCols = Seq("label"))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val got = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5,
        candWhere = col("label") === 1)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got.forall(_._2 % 3 == 1))
    // an appended label-1 vector must be findable — without metaCols on
    // the append it would read back null and silently never match
    assert(got.exists(_._2 >= 60L),
      "no appended vector survived the filtered serve")
    // compaction rewrites the postings wholesale — metadata must survive
    Index.compact(spark, path)
    val afterCompact = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5,
        candWhere = col("label") === 1)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(afterCompact.sortBy(r => (r._1, r._4)) === got.sortBy(r => (r._1, r._4)))
  }

  test("stats reports the dilution of a refreshed store") {
    val path = freshPath("stats")
    Index.saveIvf(emb.where(col("vec_id") < 60), path)
    Index.appendIvf(spark, path, emb.where(col("vec_id") >= 60))
    val row = Index.stats(spark, path).collect().head
    assert(row.getLong(0) === 120L)   // n_vectors: full corpus
    assert(row.getLong(1) === 16L)    // n_cells: frozen at build (floor)
    assert(row.getLong(2) === 16L)    // auto_cells: still the floor here
    assert(row.getDouble(3) === 1.0)  // no dilution below the floor
  }

  test("append DERIVES the metadata set from the store schema") {
    val path = freshPath("derivemeta")
    val withLabel = emb.withColumn("label", pmod(col("vec_id"), lit(3)).cast("int"))
    Index.saveIvf(withLabel.where(col("vec_id") < 60), path, metaCols = Seq("label"))
    // no metaCols passed: the store's schema decides — appended rows must
    // still carry the label and stay visible to a filtered serve
    Index.appendIvf(spark, path, withLabel.where(col("vec_id") >= 60))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val got = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5,
        candWhere = col("label") === 1)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got.forall(_._2 % 3 == 1))
    assert(got.exists(_._2 >= 60L),
      "appended vector lost its metadata despite the store schema carrying it")
  }

  test("append fails loudly when the batch lacks the store's metadata column") {
    val path = freshPath("metamissing")
    val withLabel = emb.withColumn("label", pmod(col("vec_id"), lit(3)).cast("int"))
    Index.saveIvf(withLabel.where(col("vec_id") < 60), path, metaCols = Seq("label"))
    val ex = intercept[IllegalArgumentException] {
      Index.appendIvf(spark, path, emb.where(col("vec_id") >= 60)) // no label col
    }
    assert(ex.getMessage.contains("label"))
    // the PQ flavor enforces the same contract
    val pqPath = freshPath("metamissingpq")
    Index.saveIvfPq(withLabel.where(col("vec_id") < 60), pqPath, metaCols = Seq("label"))
    val ex2 = intercept[IllegalArgumentException] {
      Index.appendIvfPq(spark, pqPath, emb.where(col("vec_id") >= 60))
    }
    assert(ex2.getMessage.contains("label"))
  }

  test("metadata derivation sees the UNION schema of a legacy mixed store") {
    // a store with PRE-VALIDATION appends: some files carry the label,
    // some don't. The stored metadata set must come from the union schema
    // (mergeSchema), not whichever footer Spark samples — otherwise an
    // append could be validated against the metadata-free schema and
    // write silently-unfilterable rows.
    val path = freshPath("legacymeta")
    val withLabel = emb.withColumn("label", pmod(col("vec_id"), lit(3)).cast("int"))
    Index.saveIvf(withLabel.where(col("vec_id") < 60), path, metaCols = Seq("label"))
    // simulate the legacy metadata-free append by writing core-only rows
    // straight into the live postings dir (what pre-validation code did)
    val live = Index.liveDir(spark, path, Index.PostingsKind)
    spark.read.parquet(live).drop("label")
      .withColumn("cell", lit(0L))
      .limit(5)
      .write.mode("append").partitionBy("cell").parquet(live)
    // a label-free batch must still FAIL: the union schema carries label
    val ex = intercept[IllegalArgumentException] {
      Index.appendIvf(spark, path, emb.where(col("vec_id") >= 60))
    }
    assert(ex.getMessage.contains("label"))
  }

  test("append fails loudly on an explicit metaCols mismatch") {
    val path = freshPath("metamismatch")
    val withLabel = emb.withColumn("label", pmod(col("vec_id"), lit(3)).cast("int"))
      .withColumn("other", lit(7))
    Index.saveIvf(withLabel.where(col("vec_id") < 60), path, metaCols = Seq("label"))
    val ex = intercept[IllegalArgumentException] {
      Index.appendIvf(spark, path, withLabel.where(col("vec_id") >= 60),
        metaCols = Seq("other")) // store was built with label, not other
    }
    assert(ex.getMessage.contains("does not match"))
  }

  test("a crashed compaction (no _SUCCESS marker) never becomes live") {
    val path = freshPath("crash")
    Index.saveIvf(emb.where(col("vec_id") < 60), path)
    Index.appendIvf(spark, path, emb.where(col("vec_id") >= 60))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val quiet = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    // simulate a compaction that died mid-write: an uncommitted versioned
    // directory with partial garbage and no commit marker
    val dead = new java.io.File(s"$path/postings_v7/cell=0")
    assert(dead.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/postings_v7/cell=0/part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(Index.liveDir(spark, path, Index.PostingsKind).endsWith("/postings"),
      "uncommitted generation was selected as live")
    val after = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(after === quiet)
    // a later compaction recovers: publishes PAST the dead generation
    Index.compact(spark, path)
    assert(Index.liveDir(spark, path, Index.PostingsKind).endsWith("postings_v8"))
    val compacted = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(compacted === quiet)
  }

  test("a serve PLANNED before a compaction executes correctly after the flip") {
    val path = freshPath("race")
    Index.saveIvf(emb.where(col("vec_id") < 60), path)
    Index.appendIvf(spark, path, emb.where(col("vec_id") >= 60))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val quiet = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    // plan now (parquet file listing is pinned at plan time), flip the
    // store underneath, execute after: the previous generation is
    // retained for exactly this reader, so the result is bit-equal
    val planned = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
    planned.queryExecution.executedPlan // force planning before the flip
    Index.compact(spark, path)
    val racing = planned.as[(Long, Long, Double, Int)].collect().toSeq
    assert(racing === quiet)
    // and the old generation IS retired by the next compaction, so disk
    // stays bounded at live + one grace generation
    Index.compact(spark, path)
    val dirs = new java.io.File(path).listFiles().map(_.getName)
      .filter(n => n == "postings" || n.startsWith("postings_v")).sorted
    assert(dirs.length === 2, s"more than live+grace retained: ${dirs.toSeq}")
  }

  test("a serve PLANNED before a rebuild executes correctly after the flip") {
    val path = freshPath("racerebuild")
    Index.saveIvf(emb.where(col("vec_id") < 60), path)
    Index.appendIvf(spark, path, emb.where(col("vec_id") >= 60))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val quiet = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    // plan now — the parquet file listings (postings AND centroids) are
    // pinned at plan time — rebuild underneath, execute after: the
    // pre-rebuild generations survive as the grace window, so the plan
    // completes bit-equal to the quiet serve
    val planned = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
    planned.queryExecution.executedPlan // force planning before the flip
    Index.rebuild(spark, path)
    val racing = planned.as[(Long, Long, Double, Int)].collect().toSeq
    assert(racing === quiet)
    // every kind flipped together into the same committed generation
    assert(Index.liveDir(spark, path, Index.PostingsKind).contains("postings_v"),
      "rebuild did not publish a versioned postings generation")
    assert(Index.liveDir(spark, path, Index.CentroidsKind).contains("centroids_v"),
      "rebuild did not publish a versioned centroids generation")
    // the rebuilt store serves the same corpus: fresh plan = inline twin
    val served = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val inline = Similarity.ivfTopK(emb, isQ, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(served === inline)
    // a second rebuild retires the grace generations: disk stays bounded
    Index.rebuild(spark, path)
    val dirs = new java.io.File(path).listFiles().map(_.getName)
    for (kind <- Seq("postings", "centroids")) {
      val gens = dirs.filter(n => n == kind || n.startsWith(s"${kind}_v"))
      assert(gens.length <= 2,
        s"more than live+grace retained for $kind: ${gens.toSeq}")
    }
  }

  test("rebuild under surviving tombstones: upserted rows are not re-masked") {
    val path = freshPath("rebuildtomb")
    Index.saveIvf(emb, path)
    // upsert vector 7 to a shifted embedding, delete vector 13 outright
    val newV7 = emb.where(col("vec_id") === 7)
      .withColumn("embedding",
        transform(col("embedding"), x => (x + lit(0.25)).cast("float")))
    Index.upsertIvf(spark, path, newV7)
    Index.delete(spark, path, spark.range(13, 14).toDF("vec_id"))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val before = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    Index.rebuild(spark, path)
    // the reader-safe rebuild leaves the tombstone files in place (plans
    // may have pinned them); the republished rows outrank them via the
    // bumped ins_seq, so nothing in the fresh generation is masked
    val after = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(after === before,
      "rebuild changed the served result under surviving tombstones")
    assert(after.forall(_._2 != 13L), "deleted vector resurfaced")
    // the fresh generation physically dropped the masked versions: the
    // served corpus is 120 − 1 deleted, with no dead mass left behind
    assert(Index.stats(spark, path).head().getLong(0) === 119L)
    assert(Index.deleteStats(spark, path).head().getLong(2) === 0L,
      "rebuild left masked versions in the fresh generation")
    // the upserted vector still serves post-rebuild (not re-masked)
    val n7 = Index.ivfTopKIndexed(spark, path,
      newV7.withColumn("vec_id", lit(100007L)), k = 3)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(n7.exists(_._2 == 7L),
      "upserted vector was re-masked by a surviving tombstone after rebuild")
  }

  test("the full mutation surface composes AFTER a rebuild (versioned live dirs)") {
    // appends, upserts, deletes, and compaction must all work against a
    // store whose live generations are versioned (postings_v1 etc.) —
    // the post-rebuild store is a first-class store, not a snapshot
    val path = freshPath("postrebuild")
    Index.saveIvf(emb.where(col("vec_id") < 60), path, nCells = 4)
    Index.rebuild(spark, path)
    assert(Index.liveDir(spark, path, Index.PostingsKind).contains("postings_v"))
    Index.appendIvf(spark, path, emb.where(col("vec_id") >= 60))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val served = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(served.exists(_._2 >= 60L),
      "rows appended into a versioned generation never served")
    // delete + upsert against the versioned store
    Index.delete(spark, path, spark.range(13, 14).toDF("vec_id"))
    val newV7 = emb.where(col("vec_id") === 7)
      .withColumn("embedding",
        transform(col("embedding"), x => (x + lit(0.25)).cast("float")))
    Index.upsertIvf(spark, path, newV7)
    val mutated = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(mutated.forall(_._2 != 13L), "deleted id served post-rebuild")
    // compaction rolls the generation forward and changes no answer
    Index.compact(spark, path)
    val compacted = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(compacted === mutated)
  }

  test("a crashed rebuild (no commit marker) never becomes live; the next one recovers") {
    val path = freshPath("crashrebuild")
    Index.saveIvf(emb, path)
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val quiet = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    // simulate a rebuild that died after renaming some kinds but before
    // the store-level commit: uncommitted versioned dirs with garbage
    for (kind <- Seq("postings", "centroids")) {
      val dead = new java.io.File(s"$path/${kind}_v3")
      assert(dead.mkdirs())
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$path/${kind}_v3/part-junk.parquet"),
        Array[Byte](9, 9, 9))
    }
    assert(Index.liveDir(spark, path, Index.PostingsKind).endsWith("/postings"),
      "uncommitted rebuild generation was selected as live")
    assert(Index.liveDir(spark, path, Index.CentroidsKind).endsWith("/centroids"))
    val after = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(after === quiet)
    // a real rebuild publishes PAST the dead generation and cleans it up
    Index.rebuild(spark, path)
    assert(Index.liveDir(spark, path, Index.PostingsKind).endsWith("postings_v4"))
    assert(!new java.io.File(s"$path/postings_v3").exists(),
      "crashed rebuild leftover survived the next publish")
    val rebuilt = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(rebuilt === quiet) // same corpus, same seeded quantizer → same serve
  }

  test("an in-place rebuild retires stale compacted generations") {
    val path = freshPath("rebuild")
    Index.saveIvf(emb.where(col("vec_id") < 60), path)
    Index.compact(spark, path) // live moves to postings_v1
    assert(Index.liveDir(spark, path, Index.PostingsKind).endsWith("postings_v1"))
    Index.saveIvf(emb, path) // rebuild over the full corpus
    assert(Index.liveDir(spark, path, Index.PostingsKind).endsWith("/postings"),
      "rebuild left a stale compacted generation outranking the fresh build")
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val served = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val inline = Similarity.ivfTopK(emb, isQ, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(served === inline)
  }

  test("trained store: kmeans centroids persisted, serve pruned and self-excluding") {
    val path = freshPath("trained")
    Index.saveIvf(emb, path, trained = true)
    // centroids are the kmeans clusters (ids 0..k−1), not corpus rows
    val cents = spark.read.parquet(s"$path/centroids")
    assert(cents.select("cid").as[Long].collect().sorted ===
      (0L until 16L).toArray)
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val served = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell#"),
      "trained serve lost the probed-cell partition prune")
    val got = served.as[(Long, Long, Double, Int)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall(r => r._1 != r._2), "self-exclusion broken")
  }

  test("trained PQ store serves; appends ride the frozen trained quantizers") {
    val path = freshPath("trainedpq")
    Index.saveIvfPq(emb.where(col("vec_id") < 100), path, trained = true)
    Index.appendIvfPq(spark, path, emb.where(col("vec_id") >= 100))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val got = Index.ivfPqTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.exists(_._2 >= 100L),
      "appended vectors not discoverable in the trained store")
  }

  test("kmeansCentroids dequantizes the trained integer centroids") {
    val c = Similarity.kmeansCentroids(emb, k = 4)
    val rows = c.orderBy("cid").collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      val cv = r.getSeq[Double](1)
      assert(cv.length === 8)
      assert(math.abs(r.getDouble(2) - math.sqrt(cv.map(x => x * x).sum)) < 1e-12)
    }
  }

  test("stats works on a PQ-only store") {
    val path = freshPath("pqstats")
    Index.saveIvfPq(emb.where(col("vec_id") < 60), path)
    Index.appendIvfPq(spark, path, emb.where(col("vec_id") >= 60))
    val row = Index.stats(spark, path).collect().head
    assert(row.getLong(0) === 120L)  // n_vectors via distinct vec_id in codes
    assert(row.getLong(1) === 16L)
    assert(row.getDouble(3) === 1.0)
  }

  test("an empty query batch serves an empty result, not a failure") {
    val path = freshPath("empty")
    Index.saveIvf(emb, path)
    val out = Index.ivfTopKIndexed(spark, path,
      emb.where(col("vec_id") < 0), k = 5)
    assert(out.count() === 0L)
  }

  // ---- deletion / upsert (sequence-stamped tombstones) ----

  private val isQ5 = pmod(col("vec_id"), lit(10)) === 0
  private val delPred = pmod(col("vec_id"), lit(10)) === 1

  test("delete ≡ filtered serve: masked rows never consume a top-k slot") {
    // the exact-semantics pin, no oracle needed: serving a store with
    // ids DELETED must equal serving the UNDELETED store with the same
    // ids cut by candWhere (filter-before-rank, identical tie-breaks)
    val path = freshPath("del")
    Index.saveIvfPq(emb, path, withRaw = true)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().toSeq
    val expFlat = dump(Index.ivfTopKIndexed(spark, path, emb.where(isQ5),
      k = 5, candWhere = !delPred))
    val expAdc = dump(Index.ivfPqTopKIndexed(spark, path, emb.where(isQ5),
      k = 5, candWhere = !delPred))
    Index.delete(spark, path, emb.where(delPred).select("vec_id"))
    assert(dump(Index.ivfTopKIndexed(spark, path, emb.where(isQ5), k = 5))
      === expFlat)
    assert(dump(Index.ivfPqTopKIndexed(spark, path, emb.where(isQ5), k = 5))
      === expAdc)
    assert(expFlat.nonEmpty && expAdc.nonEmpty)
    // the rerank refine is masked too (shortlist AND raw join)
    val rr = Index.ivfPqRerankTopKIndexed(spark, path, emb.where(isQ5),
      k = 5, rerank = 10).select("neighbor_id").as[Long].collect()
    assert(rr.forall(_ % 10 !== 1L))
  }

  test("compact purges masked rows physically and consumes the tombstones") {
    val path = freshPath("delcompact")
    Index.saveIvfPq(emb, path, withRaw = true)
    Index.delete(spark, path, emb.where(delPred).select("vec_id"))
    def dump() = Index.ivfPqRerankTopKIndexed(spark, path, emb.where(isQ5),
      k = 5, rerank = 10).orderBy("query_id", "rank").collect().toSeq
    val before = dump()
    Index.compact(spark, path)
    assert(dump() === before) // physical purge changes no answer
    assert(Tombstones.listFiles(spark, path).isEmpty) // consumed
    // masked rows are physically gone from BOTH flavors' new generations
    Seq(Index.PostingsKind, Index.PqCodesKind).foreach { kind =>
      val live = spark.read.parquet(Index.liveDir(spark, path, kind))
      assert(live.where(delPred).count() === 0L)
    }
  }

  test("a delete landing after compaction's tombstone listing survives it") {
    val path = freshPath("delrace")
    Index.saveIvf(emb, path)
    Index.delete(spark, path, Seq(21L).toDF("vec_id"))
    // compaction's consumption unit is the FILE LIST it read — replay
    // compact's body with a listing taken BEFORE a second delete lands
    val consumed = Tombstones.listFiles(spark, path)
    Index.delete(spark, path, Seq(31L).toDF("vec_id")) // mid-compaction
    Index.compactKind(spark, path, Index.PostingsKind, "cell", Nil,
      Tombstones.readFiles(spark, consumed), "vec_id")
    Tombstones.deleteFiles(spark, path, consumed)
    val live = spark.read.parquet(Index.liveDir(spark, path, Index.PostingsKind))
    assert(live.where(col("vec_id") === 21L).count() === 0L) // purged
    assert(live.where(col("vec_id") === 31L).count() === 1L) // still stored…
    val served = Index.ivfTopKIndexed(spark, path, emb.where(isQ5), k = 40)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!served.contains(31L)) // …but still MASKED (tombstone survived)
    Index.compact(spark, path) // the next cycle purges it
    assert(Tombstones.listFiles(spark, path).isEmpty)
    assert(spark.read.parquet(Index.liveDir(spark, path, Index.PostingsKind))
      .where(col("vec_id") === 31L).count() === 0L)
  }

  test("upsert serves exactly the new version; delete-then-upsert revives") {
    // one input per upsert path: raw, SQ and PQ. The SQ and PQ stores
    // carry the raw flavor and serve through the exact refine: their
    // shortlists read the upserted codes, and the refine scores the true
    // cosine (the absolute-SQ score alone is a rank-only surrogate, under
    // which an exact duplicate need not rank first)
    type Serve = (String, Int) => DataFrame
    val inputs: Seq[(String, String => Unit,
        (String, DataFrame) => Unit, Serve)] = Seq(
      ("ivf", Index.saveIvf(emb, _),
        Index.upsertIvf(spark, _, _),
        (p, k) => Index.ivfTopKIndexed(spark, p, emb.where(isQ5), k = k)),
      ("sq", Index.saveIvfSq(emb, _, withRaw = true),
        Index.upsertIvfSq(spark, _, _),
        (p, k) => Index.ivfSqRerankTopKIndexed(spark, p, emb.where(isQ5), k = k)),
      ("pq", Index.saveIvfPq(emb, _, withRaw = true),
        Index.upsertIvfPq(spark, _, _),
        (p, k) => Index.ivfPqRerankTopKIndexed(spark, p, emb.where(isQ5), k = k)))
    for ((tag, save, upsert, serve) <- inputs) {
      val path = freshPath(s"upsert_$tag")
      save(path)
      // make vec 17 the unambiguous nearest neighbor of query 30 by
      // upserting it ONTO query 30's vector (cosine 1.0 after re-assign)
      val q30 = emb.where(col("vec_id") === 30L).select("embedding").head()
        .getSeq[Float](0)
      val newRow = Seq((17L, q30)).toDF("vec_id", "embedding")
      upsert(path, newRow)
      val served = serve(path, 3)
        .where(col("query_id") === 30L).orderBy("rank").collect()
      assert(served.head.getLong(1) === 17L, tag) // the NEW vector ranks first…
      assert(served.head.getDouble(2) === 1.0, tag) // …with the new cosine
      // exactly one surviving version: no duplicate (query, neighbor) rows
      val all = serve(path, 40)
      assert(all.groupBy("query_id", "neighbor_id").count()
        .where(col("count") > 1).count() === 0L, tag)
      // delete then upsert revives the id (append outranks the tombstone)
      Index.delete(spark, path, Seq(17L).toDF("vec_id"))
      assert(serve(path, 40)
        .where(col("neighbor_id") === 17L).count() === 0L, tag)
      upsert(path, newRow)
      assert(serve(path, 3)
        .where(col("query_id") === 30L && col("neighbor_id") === 17L)
        .count() === 1L, tag)
    }
  }

  test("deleteStats counts dead VERSIONS (upsert = one dead + one live)") {
    val path = freshPath("delstats")
    Index.saveIvf(emb, path) // 120 build versions
    Index.delete(spark, path, emb.where(delPred).select("vec_id")) // 12 ids
    val mod = emb.where(pmod(col("vec_id"), lit(10)) === 2) // 12 more ids
    Index.upsertIvf(spark, path, mod)
    val r = Index.deleteStats(spark, path).head()
    assert(r.getLong(0) === 132L) // 120 build + 12 upserted versions
    assert(r.getLong(1) === 24L)  // deleted ∪ upserted ids
    assert(r.getLong(2) === 24L)  // their 24 build versions are dead
    assert(r.getDouble(3) === math.floor(24.0 / 132.0 * 1e4 + 0.5) / 1e4)
    // compaction reclaims the dead mass and the counters read clean
    Index.compact(spark, path)
    val r2 = Index.deleteStats(spark, path).head()
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) === ((108L, 0L, 0L)))
  }

  test("ivfSqTopKIndexed ≡ inline int8 ranking when probes cover every cell") {
    val path = freshPath("sq")
    Index.saveIvfSq(emb, path)
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val served = Index.ivfSqTopKIndexed(spark, path, emb.where(isQ), k = 5,
        nProbe = 16) // 16 probes = all cells → the probe cut is vacuous
      .select("query_id", "neighbor_id", "rank") // int8TopK carries no score
      .orderBy("query_id", "rank")
      .as[(Long, Long, Int)].collect().toSeq
    val inline = Similarity.int8TopK(emb, isQ, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Int)].collect().toSeq
    assert(served === inline)
    assert(served.nonEmpty)
  }

  test("SQ rerank with exhaustive shortlist ≡ exact-cosine serve") {
    val path = freshPath("sqrerank")
    Index.saveIvfSq(emb, path, withRaw = true)
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    // full probe coverage + a shortlist holding every candidate → the
    // refine IS the exact serve, bit-for-bit
    val reranked = Index.ivfSqRerankTopKIndexed(spark, path, emb.where(isQ),
        k = 5, rerank = 119, nProbe = 16)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val exact = Index.ivfTopKIndexed(spark, path, emb.where(isQ),
        k = 5, nProbe = 16)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(reranked === exact)
    assert(reranked.nonEmpty)
  }

  test("SQ store: append serves, delete masks, compact purges and consumes") {
    val path = freshPath("sqlife")
    Index.saveIvfSq(emb.where(col("vec_id") < 60), path)
    Index.appendIvfSq(spark, path, emb.where(col("vec_id") >= 60))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    def serve() = Index.ivfSqTopKIndexed(spark, path, emb.where(isQ), k = 40)
    assert(serve().where(col("neighbor_id") >= 60).count() > 0) // appended visible
    Index.delete(spark, path, emb.where(delPred).select("vec_id"))
    val masked = serve().orderBy("query_id", "rank").collect().toSeq
    assert(masked.nonEmpty)
    assert(masked.forall(_.getLong(1) % 10 !== 1L))
    Index.compact(spark, path)
    assert(serve().orderBy("query_id", "rank").collect().toSeq === masked)
    assert(Tombstones.listFiles(spark, path).isEmpty)
    assert(spark.read.parquet(Index.liveDir(spark, path, Index.SqCodesKind))
      .where(delPred).count() === 0L)
    // version-level stats on the SQ-only flavor
    val r = Index.deleteStats(spark, path).head()
    assert(r.getLong(0) === 108L && r.getLong(1) === 0L)
  }

  test("deleteWhere resolves against the MASKED store and is idempotent") {
    val path = freshPath("delwhere")
    val withLabel = emb.withColumn("label",
      pmod(col("vec_id"), lit(3)).cast("int"))
    Index.saveIvf(withLabel, path, metaCols = Seq("label"))
    // upsert vec 18 (label 0) with label 2: its LIVE version matches the
    // predicate below; vec 5's live version (label 2) matches directly
    val newRow = withLabel.where(col("vec_id") === 18L)
      .withColumn("label", lit(2))
    Index.upsertIvf(spark, path, newRow, metaCols = Seq("label"))
    Index.deleteWhere(spark, path, col("label") === 2)
    val served = Index.ivfTopKIndexed(spark, path, emb.where(isQ5), k = 40)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!served.contains(5L))   // direct match gone
    assert(!served.contains(18L))  // upserted live version matched → gone
    assert(served.exists(_ % 3 == 0L)) // other label-0 ids still serve
    // idempotent: a re-run tombstones nothing new (matches already masked)
    val before = Index.deleteStats(spark, path).head().getLong(1)
    Index.deleteWhere(spark, path, col("label") === 2)
    assert(Index.deleteStats(spark, path).head().getLong(1) === before)
  }

  test("maintain rebuilds a diluted store from its own raw flavor") {
    val path = freshPath("maintain")
    // 4-cell build over half the corpus, then the other half appended
    // and mutations applied: dilution = autoCells floor (16) / 4 = 4
    Index.saveIvf(emb.where(col("vec_id") < 60), path, nCells = 4)
    Index.appendIvf(spark, path, emb.where(col("vec_id") >= 60))
    Index.delete(spark, path,
      emb.where(pmod(col("vec_id"), lit(10)) === 3 && col("vec_id") >= 20)
        .select("vec_id"))
    val q30 = emb.where(col("vec_id") === 30L).select("embedding").head()
      .getSeq[Float](0)
    Index.upsertIvf(spark, path, Seq((17L, q30)).toDF("vec_id", "embedding"))
    assert(Index.maintain(spark, path) === "rebuild")
    val st = Index.stats(spark, path).head()
    assert(st.getLong(1) === 16L) // fresh autoCells budget
    assert(st.getDouble(3) === 1.0) // dilution reset
    // the reader-safe rebuild leaves tombstone files for the next
    // compaction (pre-planned serves may have pinned them) but the
    // fresh generation outranks them: zero masked versions remain
    val ds = Index.deleteStats(spark, path).head()
    assert(ds.getLong(2) === 0L, "rebuild left dead mass behind")
    // the rebuilt store serves the MUTATED corpus: deletions stay gone,
    // the upserted id survives with its new vector
    val served = Index.ivfTopKIndexed(spark, path, emb.where(isQ5), k = 40)
    assert(served.where(col("neighbor_id") >= 20 &&
      pmod(col("neighbor_id"), lit(10)) === 3).count() === 0L)
    val hit = served
      .where(col("query_id") === 30L && col("neighbor_id") === 17L)
      .select("cosine").as[Double].collect().toSeq
    assert(hit === Seq(1.0))
    assert(Index.maintain(spark, path) === "none") // healthy now
  }

  test("maintain compacts on dead-version mass; rebuild refuses codes-only") {
    val path = freshPath("maintain2")
    Index.saveIvf(emb, path)
    Index.delete(spark, path,
      emb.where(pmod(col("vec_id"), lit(3)) === 1).select("vec_id")) // ~33%
    assert(Index.maintain(spark, path) === "compact")
    assert(Tombstones.listFiles(spark, path).isEmpty)
    assert(Index.maintain(spark, path) === "none")
    val pqOnly = freshPath("maintain3")
    Index.saveIvfPq(emb, pqOnly)
    intercept[IllegalArgumentException] {
      Index.rebuild(spark, pqOnly)
    }
  }

  // the clustered family fixture: 10 families of 12 near-identical
  // vectors — the corpus where residual coding is worth an order of
  // magnitude of recall, so a rebuild that silently downgrades coding
  // is MEASURABLE here
  private def famEmb = (0L until 120L).map { i =>
    val f = (i % 10).toInt
    val v = (0 until 8).map(d =>
      (math.sin(f * 2.13 + d * 1.41) +
        math.sin(i * 0.913 + d * 0.57) * 0.01).toFloat)
    (i, v)
  }.toDF("vec_id", "embedding")

  test("maintain-triggered rebuild preserves trained/residual PQ coding and geometry") {
    val fam = famEmb
    val isQ = col("vec_id") < 10
    val path = freshPath("rebuildcoding")
    // nCells = 4 vs the stats floor of 16 → dilution 4 > 2 → maintain
    // must choose rebuild; custom nSub/nCode pin the geometry reset too
    Index.saveIvfPq(fam, path, nCells = 4, nSub = 4, nCode = 8,
      trained = true, residual = true, withRaw = true)
    val exact = Similarity.bruteForceTopK(fam, isQ, 10)
    def recall(): Double = Similarity.recallOf(exact,
      Index.ivfPqTopKIndexed(spark, path, fam.where(isQ), k = 10), 10)
      .head().getDouble(0)
    val before = recall()
    assert(Index.maintain(spark, path) === "rebuild")
    // coding markers survive the automated rebuild
    assert(Index.isResidual(spark, path),
      "rebuild downgraded the residual marker to absolute")
    val cw = spark.read.parquet(s"$path/codewords")
    assert(cw.select("sub").distinct().count() === 4L,
      "rebuild reset nSub to the default")
    assert(cw.select("code").distinct().count() === 8L,
      "rebuild reset nCode to the default")
    // and recall is retained, not collapsed to seeded-absolute grade
    val after = recall()
    assert(after >= before - 0.1 && after >= 0.5,
      s"rebuild degraded recall: $before -> $after")
  }

  test("rebuild preserves residual SQ coding (SQ+raw store)") {
    val fam = famEmb
    val isQ = col("vec_id") < 10
    val path = freshPath("rebuildsqcoding")
    Index.saveIvfSq(fam, path, nCells = 4, residual = true, withRaw = true,
      forceFlat = true)
    val exact = Similarity.bruteForceTopK(fam, isQ, 10)
    def recall(): Double = Similarity.recallOf(exact,
      Index.ivfSqTopKIndexed(spark, path, fam.where(isQ), k = 10), 10)
      .head().getDouble(0)
    val before = recall()
    assert(Index.maintain(spark, path) === "rebuild")
    val after = recall()
    assert(after >= before - 0.1 && after >= 0.8,
      s"SQ rebuild degraded recall: $before -> $after (residual marker " +
        "not preserved?)")
    // the residual serve contract (a true approximate cosine) held too
    val scores = Index.ivfSqTopKIndexed(spark, path, fam.where(isQ), k = 5)
      .select("score").as[Double].collect()
    assert(scores.forall(s => s >= -1.000001 && s <= 1.000001),
      "post-rebuild SQ serve is not on the residual (dequantized-cosine) branch")
    // the rebuild's in-place sq_meta rewrite (trained-ownership fixup)
    // must not drop the assignment-mode field: a flat-built store whose
    // marker reverts to two-level would mis-route every later append
    assert(spark.read.parquet(s"$path/sq_meta")
      .select("flat").head().getBoolean(0),
      "rebuild's sq_meta rewrite dropped the flat assignment-mode marker")
  }

  test("rebuildFrom re-grids a codes-only PQ store reader-safely, coding preserved") {
    val fam = famEmb
    val path = freshPath("rebuildfrom")
    // codes-only: no raw flavor, custom geometry, trained residual coding
    Index.saveIvfPq(fam, path, nCells = 4, nSub = 4, nCode = 8,
      trained = true, residual = true)
    Index.delete(spark, path, Seq(115L).toDF("vec_id"))
    // dilution 16/4 = 4 > 2, no raw flavor: maintain must REPORT, not
    // silently fall through to compact/none
    assert(Index.maintain(spark, path) === "rebuild-needed")
    // with the source corpus it re-grids reader-safely, coding preserved
    assert(Index.maintain(spark, path, rebuildWith = Some(fam)) === "rebuild")
    assert(Index.isResidual(spark, path),
      "rebuildFrom downgraded the residual marker")
    val cw = spark.read.parquet(
      Index.liveDir(spark, path, Index.CodewordsKind))
    assert(cw.select("sub").distinct().count() === 4L &&
      cw.select("code").distinct().count() === 8L,
      "rebuildFrom reset the PQ geometry")
    // the store keeps its codes-only shape and serves the FULL corpus
    // (republished rows outrank the old tombstone by construction)
    assert(Index.generations(spark, path, Index.PostingsKind).isEmpty,
      "rebuildFrom created a raw flavor on a codes-only store")
    assert(Index.stats(spark, path).head().getLong(0) === 120L)
    assert(Index.ivfPqTopKIndexed(spark, path,
      fam.where(col("vec_id") < 5), k = 5).count() > 0)
  }

  test("rebuildFrom keeps an SQ-only store codes-only, residual coding preserved") {
    val fam = famEmb
    val path = freshPath("rebuildfromsq")
    Index.saveIvfSq(fam, path, nCells = 4, residual = true)
    assert(Index.maintain(spark, path) === "rebuild-needed")
    assert(Index.maintain(spark, path, rebuildWith = Some(fam)) === "rebuild")
    assert(Index.generations(spark, path, Index.PostingsKind).isEmpty,
      "rebuildFrom created a raw flavor on an SQ-only store")
    val scores = Index.ivfSqTopKIndexed(spark, path,
      fam.where(col("vec_id") < 5), k = 5)
      .select("score").as[Double].collect()
    assert(scores.nonEmpty && scores.forall(s => s >= -1.000001 && s <= 1.000001),
      "post-rebuildFrom SQ serve is not on the residual branch")
  }

  test("rebuildFrom fails loudly when the corpus lacks a stored metadata column") {
    val path = freshPath("rebuildfrommeta")
    val withLabel = emb.withColumn("label", pmod(col("vec_id"), lit(4)))
    Index.saveIvfPq(withLabel, path, metaCols = Seq("label"))
    intercept[IllegalArgumentException] {
      Index.rebuildFrom(spark, path, emb) // no label column
    }
  }

  test("a flat-built store keeps flat routing for appends past the two-level threshold") {
    // 80 cells ≥ twoLevelMinCells (64): without the stored `flat`
    // marker the append's frozen-centroid assignment would switch to
    // two-level super-routing — a silent geometry change that parks
    // vectors in cells the flat query probe never reads. The fixture
    // asserts flat and two-level genuinely disagree on the batch, so
    // the test cannot pass vacuously. Construction (dim-16 orthonormal
    // scaffold): ids 0..8 sit exactly on e0..e8 — the super-quantizer's
    // nine Lloyd seeds — ids 9..78 replicate those directions (the
    // supers stay put through Lloyd), and id 79 = 0.8·e8 + 0.6·e9, a
    // centroid whose super (≈e8) barely sees the e9 axis. The batch
    // vector q = e9 + 0.3·(e0+…+e5) ranks the six decoy supers (dot
    // 0.3) above e8's (dot ≈ 0.07), so two-level routing with
    // superProbe = 6 of 9 can never reach q's true nearest centroid
    // (79, cosine 0.48 vs the decoys' 0.24).
    def basis(i: Int, scale: Float): Seq[Float] =
      (0 until 16).map(d => if (d == i) scale else 0f)
    val base = ((0 until 9).map(i => (i.toLong, basis(i, 1f))) ++
      (9 until 79).map(i => (i.toLong, basis(i % 9, 1f))) ++
      Seq((79L, (0 until 16).map(d =>
        if (d == 8) 0.8f else if (d == 9) 0.6f else 0f).toSeq))
      ).toDF("vec_id", "embedding")
    val batch = Seq((1000L, (0 until 16).map(d =>
      if (d == 9) 1f else if (d < 6) 0.3f else 0f).toSeq))
      .toDF("vec_id", "embedding")
    val path = freshPath("flatroute")
    Index.saveIvf(base, path, nCells = 80, forceFlat = true)
    val seed = spark.read
      .parquet(Index.liveDir(spark, path, Index.CentroidsKind))
      .select(col("cid").as("vec_id"), col("cv").as("v"),
        col("cn").as("norm"))
    def assignedCells(twoLevelMin: Int): Map[Long, Long] =
      Similarity.withCellRanks(Similarity.normed(batch), 80, 1,
        seedFrom = seed, twoLevelMin = twoLevelMin)
        .select(col("vec_id"), element_at(col("cells"), 1).as("cell"))
        .as[(Long, Long)].collect().toMap
    val flat = assignedCells(Int.MaxValue)
    val two = assignedCells(Similarity.twoLevelMinCells)
    assert(flat.exists { case (id, c) => two(id) != c },
      "fixture too easy: two-level and flat agree on every batch vector")
    Index.appendIvf(spark, path, batch)
    val stored = spark.read
      .parquet(Index.liveDir(spark, path, Index.PostingsKind))
      .where(col("vec_id") >= 1000L)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(stored === flat,
      "append on a flat-built store did not route flat")
  }

  test("maintain's fragmentation probe works through the Hadoop FS (file: scheme)") {
    // explicit file: scheme — a java.io.File walk over the scheme'd path
    // string counts 0 files and the fragmentation trigger silently never
    // fires; the probe must go through Path.getFileSystem like every
    // other store touch, so this store maintains to "compact"
    val path = "file:" + freshPath("maintfrag")
    Index.saveIvf(emb.where(col("vec_id") < 60), path)
    Index.appendIvf(spark, path, emb.where(col("vec_id") >= 60 && col("vec_id") < 90))
    Index.appendIvf(spark, path, emb.where(col("vec_id") >= 90))
    // three files per touched cell (build + 2 appends), no dead mass, no
    // dilution — only the files-per-cell trigger can fire
    assert(Index.maintain(spark, path, maxFilesPerCell = 1.5) === "compact")
    assert(Index.maintain(spark, path, maxFilesPerCell = 1.5) === "none")
    // the lexical twin shares the probe
    val docs = (0L until 300L).map { i =>
      // per-doc-unique words → bigram hashes spread over every bucket,
      // so the build and the append each touch (and file) most buckets
      (i, (0 until 12).map(w => s"u${i}w$w").mkString(" "))
    }.toDF("doc_id", "text")
    val lexPath = "file:" + freshPath("maintfraglex")
    LexIndex.saveLexical(docs.where(col("doc_id") < 200), lexPath)
    LexIndex.appendLexical(spark, lexPath, docs.where(col("doc_id") >= 200))
    LexIndex.foldStats(spark, lexPath) // clear the fold trigger first
    assert(LexIndex.maintain(spark, lexPath,
      maxFilesPerBucket = 1.001) === "compact")
  }

  test("delete works on a PQ-only store (no raw flavor)") {
    val path = freshPath("delpqonly")
    Index.saveIvfPq(emb, path)
    Index.delete(spark, path, emb.where(delPred).select("vec_id"))
    val served = Index.ivfPqTopKIndexed(spark, path, emb.where(isQ5), k = 40)
      .select("neighbor_id").as[Long].collect()
    assert(served.nonEmpty && served.forall(_ % 10 !== 1L))
    val r = Index.deleteStats(spark, path).head()
    assert(r.getLong(0) === 120L && r.getLong(2) === 12L)
  }

  test("an append racing a rebuild fails it loudly; the batch is never lost") {
    val path = freshPath("racemutapp")
    Index.saveIvf(emb.where(col("vec_id") < 100), path)
    val gensBefore = Index.generations(spark, path, Index.PostingsKind)
      .map(_._1).toSet
    val ex = intercept[IllegalStateException] {
      Index.rebuild(spark, path,
        () => Index.appendIvf(spark, path, emb.where(col("vec_id") >= 100)))
    }
    assert(ex.getMessage.contains("single-writer"))
    // the store is UNCHANGED by the aborted rebuild: no new generation
    // published, no stage leftover, and the RACING batch serves (it
    // landed in the still-live generation — never silently dropped)
    assert(Index.generations(spark, path, Index.PostingsKind)
      .map(_._1).toSet === gensBefore,
      "aborted rebuild published a generation")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_rebuild_stage")),
      "aborted rebuild left its staging directory behind")
    val stored = spark.read
      .parquet(Index.liveDir(spark, path, Index.PostingsKind))
      .select("vec_id").as[Long].collect().toSet
    assert((100L until 120L).forall(stored.contains),
      "the racing append's rows are missing from the live store")
    // a quiesced re-run succeeds and serves the full corpus
    Index.rebuild(spark, path)
    val served = Index.ivfTopKIndexed(spark, path, emb.where(isQ5), k = 60)
      .select("neighbor_id").as[Long].collect().toSet
    assert(served.exists(_ >= 100L),
      "post-rebuild serve lost the previously-racing batch")
  }

  test("a delete racing a rebuild fails it loudly; the delete still masks") {
    val path = freshPath("racemutdel")
    Index.saveIvf(emb, path)
    val ex = intercept[IllegalStateException] {
      Index.rebuild(spark, path, () => Index.delete(spark, path,
        emb.where(col("vec_id") === 7L).select("vec_id")))
    }
    assert(ex.getMessage.contains("single-writer"))
    val served = Index.ivfTopKIndexed(spark, path, emb.where(isQ5), k = 60)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!served.contains(7L),
      "a delete that raced an ABORTED rebuild stopped masking")
  }

  test("a mutation racing rebuildFrom on a codes-only store aborts it loudly") {
    val path = freshPath("racemutfrom")
    Index.saveIvfPq(emb, path) // codes-only: no raw flavor
    val ex = intercept[IllegalStateException] {
      Index.rebuildFrom(spark, path, emb,
        () => Index.delete(spark, path,
          emb.where(col("vec_id") === 11L).select("vec_id")))
    }
    assert(ex.getMessage.contains("single-writer"))
    // the racing delete survives the abort
    val served = Index.ivfPqTopKIndexed(spark, path, emb.where(isQ5), k = 60)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!served.contains(11L))
    // and a quiesced rebuildFrom over the survivor corpus succeeds
    Index.rebuildFrom(spark, path, emb.where(col("vec_id") =!= 11L))
    val after = Index.ivfPqTopKIndexed(spark, path, emb.where(isQ5), k = 60)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!after.contains(11L) && after.nonEmpty)
  }

  test("maintain prefers a supplied rebuildWith corpus over self-rebuild") {
    // a RAW-flavored diluted store given rebuildWith must re-grid onto
    // the SUPPLIED corpus snapshot — not silently self-rebuild from its
    // stale stored postings (the caller supplied the refresh for a
    // reason): the refreshed snapshot here carries 40 extra vectors the
    // store never saw, which only the rebuildFrom path can publish
    val path = freshPath("maintrebwith")
    // 4 built cells vs a 16-cell auto budget: dilution 4 > 2 at any size
    Index.saveIvf(emb, path, nCells = 4)
    val refreshed = (0L until 160L).map { i =>
      val v = (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73).toFloat)
      (i, v)
    }.toDF("vec_id", "embedding")
    assert(Index.maintain(spark, path,
      rebuildWith = Some(refreshed)) === "rebuild")
    val stored = spark.read
      .parquet(Index.liveDir(spark, path, Index.PostingsKind))
      .select("vec_id").as[Long].collect().toSet
    assert((120L until 160L).forall(stored.contains),
      "maintain(rebuildWith) ignored the supplied corpus and " +
        "self-rebuilt from the stale stored snapshot")
    assert(stored.size === 160)
  }

  test("vacuum reclaims superseded generations; a post-flip plan survives") {
    val path = freshPath("vacuum")
    Index.saveIvf(emb, path)
    val quiet = Index.ivfTopKIndexed(spark, path, emb.where(isQ5), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    Index.rebuild(spark, path) // publishes v1; v0 survives as grace
    assert(Index.generations(spark, path, Index.PostingsKind).size === 2,
      "rebuild did not leave the grace generation for vacuum to reclaim")
    // plan AFTER the flip (pins the live v1 files), vacuum, execute: a
    // post-flip plan must survive a keepGenerations = 1 vacuum
    val planned = Index.ivfTopKIndexed(spark, path, emb.where(isQ5), k = 5)
    val rep = Index.vacuum(spark, path).head()
    assert(rep.getLong(0) >= 2L, // postings + centroids grace gens at least
      s"vacuum removed ${rep.getLong(0)} generations, expected >= 2")
    assert(rep.getLong(1) > 0L, "vacuum reports zero bytes reclaimed")
    val served = planned.orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(served === quiet,
      "a serve planned after the flip broke across the vacuum")
    // exactly the live generation remains, per kind
    Seq(Index.PostingsKind, Index.CentroidsKind).foreach { k =>
      val gens = Index.generations(spark, path, k)
      assert(gens.size === 1 && gens.head._1 > 0,
        s"vacuum left ${gens.size} generations of $k")
    }
    // idempotent: nothing left to reclaim
    val again = Index.vacuum(spark, path).head()
    assert(again.getLong(0) === 0L && again.getLong(1) === 0L)
    // the vacuumed store is still a first-class store: fresh serves and
    // mutations keep working
    val after = Index.ivfTopKIndexed(spark, path, emb.where(isQ5), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(after === quiet)
    Index.appendIvf(spark, path, (200L until 210L).map { i =>
      val v = (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73).toFloat)
      (i, v)
    }.toDF("vec_id", "embedding"))
    assert(Index.stats(spark, path).head().getLong(0) === 130L)
  }

  test("vacuum keepGenerations = 2 preserves the one-flip grace window") {
    val path = freshPath("vacuum2")
    Index.saveIvf(emb, path)
    Index.rebuild(spark, path) // v1 live, v0 grace
    val rep = Index.vacuum(spark, path, keepGenerations = 2).head()
    assert(rep.getLong(0) === 0L,
      "keepGenerations = 2 removed the one-flip grace window")
    assert(Index.generations(spark, path, Index.PostingsKind).size === 2)
  }

  test("vacuum reclaims a lexical store's superseded generations too") {
    val path = freshPath("vacuumlex")
    val docs = (0L until 40L).map { i =>
      (i, (0 until 8).map(j => s"w${(i * 7 + j * 3) % 30}").mkString(" "))
    }.toDF("doc_id", "text")
    LexIndex.saveLexical(docs.where(col("doc_id") >= 4), path, nBuckets = 16)
    val quiet = LexIndex.bm25TopKIndexed(spark, path,
      docs.where(col("doc_id") < 4), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    LexIndex.rebuildLexical(docs.where(col("doc_id") >= 4), path,
      nBuckets = 16)
    val rep = Index.vacuum(spark, path).head()
    assert(rep.getLong(0) >= 2L && rep.getLong(1) > 0L)
    Seq(LexIndex.PostingsKind, LexIndex.TermsKind).foreach { k =>
      assert(Index.generations(spark, path, k).size === 1,
        s"vacuum left a superseded $k generation")
    }
    val after = LexIndex.bm25TopKIndexed(spark, path,
      docs.where(col("doc_id") < 4), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(after === quiet && after.nonEmpty)
  }

  test("MRL serve at full prefix width equals the raw serve (refine exactness)") {
    // prefixDims = the full dimension makes the shortlist cosine the
    // exact cosine, so with the shortlist deeper than any cell's
    // candidate count the MRL serve must equal the raw flat serve —
    // pinning that the refine stage is exact and loses nothing
    val path = freshPath("mrlfull")
    Index.saveIvfMrl(emb, path, prefixDims = 8)
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    val raw = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val mrl = Index.ivfMrlRerankTopKIndexed(spark, path, emb.where(isQ),
      k = 5, rerank = 500)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(mrl === raw && mrl.nonEmpty)
  }

  test("MRL store: append, upsert, delete, rebuild, vacuum all compose") {
    val path = freshPath("mrllife")
    Index.saveIvfMrl(emb.where(col("vec_id") < 100), path, prefixDims = 4)
    def extra(lo: Long, hi: Long) = (lo until hi).map { i =>
      val v = (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73).toFloat)
      (i, v)
    }.toDF("vec_id", "embedding")
    Index.appendIvfMrl(spark, path, extra(100L, 120L))
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    def servedSet(k: Int = 60): Set[Long] =
      Index.ivfMrlRerankTopKIndexed(spark, path, emb.where(isQ), k = k)
        .select("neighbor_id").as[Long].collect().toSet
    assert(servedSet().exists(_ >= 100L), "appended rows never served")
    // upsert: the new version serves, the old is masked in BOTH flavors
    Index.upsertIvfMrl(spark, path,
      extra(110L, 112L).withColumn("embedding",
        transform(col("embedding"), x => x + lit(0.5))))
    val mrlRows0 = spark.read
      .parquet(Index.liveDir(spark, path, Index.MrlCodesKind))
      .where(col("vec_id") === 110L).count()
    assert(mrlRows0 === 2L, "upsert should co-locate masked + live versions")
    // delete masks; the serve is the true top-k among survivors
    Index.delete(spark, path, Seq(7L).toDF("vec_id"))
    assert(!servedSet().contains(7L), "deleted id served from the MRL store")
    // self-rebuild keeps the MRL flavor (raw postings are the corpus)
    Index.rebuild(spark, path)
    assert(Index.generations(spark, path, Index.MrlCodesKind)
      .exists(_._1 > 0), "rebuild dropped the MRL prefix flavor")
    assert(!servedSet().contains(7L), "rebuild resurrected a deleted id")
    assert(servedSet().exists(_ >= 100L), "rebuild lost appended rows")
    // compaction + vacuum leave a serving store
    Index.compact(spark, path)
    val rep = Index.vacuum(spark, path).head()
    assert(rep.getLong(0) > 0L)
    assert(servedSet().nonEmpty)
  }

  test("QUANTIZED MRL (MRL × SQ8): serve refines exactly; lifecycle composes") {
    // with the shortlist deeper than any probed candidate count, the
    // quantized-prefix shortlist covers everything the raw serve scores,
    // so the refined result must EQUAL the raw flat serve — pinning that
    // the int8 prefix cut loses nothing the refine cannot recover
    val path = freshPath("mrlsq")
    Index.saveIvfMrl(emb.where(col("vec_id") < 100), path, prefixDims = 4,
      quantized = true)
    def extra(lo: Long, hi: Long) = (lo until hi).map { i =>
      val v = (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73).toFloat)
      (i, v)
    }.toDF("vec_id", "embedding")
    // append dispatches on the recorded coding: the refreshed flavor
    // must carry int8 codes, not raw prefixes
    Index.appendIvfMrl(spark, path, extra(100L, 120L))
    val mrlCols = spark.read
      .parquet(Index.liveDir(spark, path, Index.MrlCodesKind))
      .columns.toSet
    assert(mrlCols.contains("qb") && !mrlCols.contains("vp"),
      "quantized MRL store lost its int8 coding on append")
    val isQ = pmod(col("vec_id"), lit(10)) === 0
    def raw = Index.ivfTopKIndexed(spark, path, emb.where(isQ), k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    def mrl = Index.ivfMrlRerankTopKIndexed(spark, path, emb.where(isQ),
      k = 5, rerank = 500)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(mrl === raw && mrl.nonEmpty)
    // upsert + delete + self-rebuild keep the coding and the answers
    Index.upsertIvfMrl(spark, path,
      extra(110L, 112L).withColumn("embedding",
        transform(col("embedding"), x => x + lit(0.5))))
    Index.delete(spark, path, Seq(7L).toDF("vec_id"))
    assert(mrl === raw, "flavors diverged after upsert + delete")
    Index.rebuild(spark, path)
    val rebuiltCols = spark.read
      .parquet(Index.liveDir(spark, path, Index.MrlCodesKind))
      .columns.toSet
    assert(rebuiltCols.contains("qb") && !rebuiltCols.contains("vp"),
      "rebuild silently de-quantized the MRL flavor")
    assert(mrl === raw && mrl.nonEmpty,
      "flavors diverged across the staged rebuild")
    assert(!mrl.exists(_._2 == 7L), "rebuild resurrected a deleted id")
  }

  test("maintain(vacuumKeep) reclaims superseded generations in the cron loop") {
    val path = freshPath("maintvac")
    Index.saveIvf(emb, path, nCells = 4) // diluted: auto 16 > 2 x 4
    assert(Index.maintain(spark, path,
      vacuumKeep = Some(1)) === "rebuild")
    // the rebuild's grace generation was vacuumed in the same pass
    Seq(Index.PostingsKind, Index.CentroidsKind).foreach { k =>
      assert(Index.generations(spark, path, k).size === 1,
        s"maintain(vacuumKeep = 1) left a superseded $k generation")
    }
    val served = Index.ivfTopKIndexed(spark, path, emb.where(isQ5), k = 5)
    assert(served.count() > 0)
  }

  test("asOfSeq time-travel: each sequence serves its historical state") {
    // history: build two thirds (seq 0), append half the last third
    // (seq 1), delete a slice (seq 2), append the other half (seq 3)
    val third = pmod(col("vec_id"), lit(3)) === 2
    val slice = pmod(col("vec_id"), lit(17)) === 5
    val path = freshPath("ttravel")
    Index.saveIvf(emb.where(!third), path)
    Index.appendIvf(spark, path, emb.where(third && col("vec_id") < 60))
    Index.delete(spark, path, emb.where(slice).select("vec_id"))
    Index.appendIvf(spark, path, emb.where(third && col("vec_id") >= 60))
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .as[(Long, Long, Double, Int)].collect().toSeq
    def served(asOf: Option[Long]) = dump(
      Index.ivfTopKIndexed(spark, path, emb.where(isQ5), k = 5,
        asOfSeq = asOf))
    // travelling to the current counter IS the current serve
    assert(served(Some(Tombstones.currentSeq(spark, path))) ===
      served(None))
    // travelling to 0 serves the build-time corpus: bit-equal to a
    // fresh store built from it (same corpus, same centroids)
    val p0 = freshPath("ttravel0")
    Index.saveIvf(emb.where(!third), p0)
    assert(served(Some(0L)) ===
      dump(Index.ivfTopKIndexed(spark, p0, emb.where(isQ5), k = 5)))
    // travelling to 2 serves build + first append − delete: bit-equal
    // to a reference store whose history STOPS at that sequence
    val p2 = freshPath("ttravel2")
    Index.saveIvf(emb.where(!third), p2)
    Index.appendIvf(spark, p2, emb.where(third && col("vec_id") < 60))
    Index.delete(spark, p2, emb.where(slice).select("vec_id"))
    assert(served(Some(2L)) ===
      dump(Index.ivfTopKIndexed(spark, p2, emb.where(isQ5), k = 5)))
    assert(served(Some(2L)).nonEmpty)
    // the travelled states genuinely differ (the seq-3 append and the
    // seq-2 delete both move results for this corpus)
    assert(served(Some(2L)) !== served(None))
    assert(served(Some(0L)) !== served(Some(2L)))
    // HORIZON: a compaction purges masked rows and consumes tombstones,
    // so states older than it collapse to the collapse point — after
    // compact, seq 1 and seq 2 are indistinguishable (the purged slice
    // cannot reappear)
    Index.compact(spark, path)
    assert(served(Some(1L)) === served(Some(2L)))
  }
}
