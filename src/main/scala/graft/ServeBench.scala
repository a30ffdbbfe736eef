package graft

import graft.ml.{Index, Similarity, Store}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-once/serve-many A/B for the persisted ANN indexes: on the
  * SPARK_GRAFT_SF_DIR embeddings corpus, time (a) the one-time index
  * build+write, (b) the inline operator (which re-runs the build inside
  * every call), and (c) the serve-from-store path, for a bounded 50-query
  * batch and a 5-query "interactive" batch. Reports the probed-cell
  * fraction — the share of the store a serve actually reads — and the
  * on-disk store bytes (flat postings vs PQ codes, the 64-double vs
  * 8-code storage story).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/sfL sbt "runMain graft.ServeBench"
  * One JSON line per measurement; timing = noop-write of the result
  * (warm-up pass first, as in Bench).
  */
object ServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sfL")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // same isolation/conf envs as Bench: SPARK_GRAFT_MASTER (e.g.
    // local-cluster[4,8,10240] for sealed executors), SPARK_GRAFT_EXEC_CP
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_EXEC_CP").foreach { cp =>
      builder.config("spark.executor.extraClassPath", cp)
    }
    val LocalClusterMem = """local-cluster\[\s*\d+\s*,\s*\d+\s*,\s*(\d+)\s*\]""".r
    master match {
      case LocalClusterMem(mem) => builder.config("spark.executor.memory", s"${mem}m")
      case _ => ()
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val n = emb.count()
    val root = java.nio.file.Files.createTempDirectory("graft_servebench").toString

    def time(body: => DataFrame): Double = {
      val t0 = System.nanoTime()
      body.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    def timed(tag: String, extra: String = "")(body: => DataFrame): Double = {
      time(body) // warm-up
      val sec = time(body)
      println(s"""{"stage":"$tag","sec":${Bench.fmt3(sec)},"n":$n$extra}""")
      System.out.flush()
      sec
    }
    def dirBytes(p: String): Long = {
      val f = new java.io.File(p)
      if (!f.exists()) 0L
      else if (f.isFile) f.length()
      else f.listFiles().map(x => dirBytes(x.getPath)).sum
    }

    val q50 = emb.where(Similarity.sampledIsQuery)
    val q5 = emb.where(col("vec_id") < 5)

    // stage selection: no args = the build/serve A/B (the recorded
    // BENCH_serve_* shape, unchanged); "frag" = the fragmentation /
    // compaction A/B (40 append cycles, then compact); pass both to
    // run both
    val stages = if (args.isEmpty) Set("serve") else args.toSet
    def want(s: String): Boolean = stages(s)

    def countFiles(p: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
        else if (f.isDirectory) f.listFiles().map(walk).sum
        else 0
      walk(new java.io.File(p))
    }

    if (want("frag")) {
      // FRAGMENTATION A/B: a store refreshed 40 times accumulates one
      // file per (append × touched cell); measure the serve penalty the
      // small files cost and what compaction buys back. Base = even ids
      // (holds every quantizer seed at any sf), appends = odd half in 40
      // slices (pmod 80 ∈ {1,3,…,79}) — each slice touches most cells.
      for ((flavor, save, append, serve) <- Seq(
          ("ivf",
            (e: DataFrame, p: String) => Index.saveIvf(e, p),
            (p: String, e: DataFrame) => Index.appendIvf(spark, p, e),
            (p: String, q: DataFrame) => Index.ivfTopKIndexed(spark, p, q, k = 10)),
          ("ivfpq",
            (e: DataFrame, p: String) => Index.saveIvfPq(e, p),
            (p: String, e: DataFrame) => Index.appendIvfPq(spark, p, e),
            (p: String, q: DataFrame) => Index.ivfPqTopKIndexed(spark, p, q, k = 10)))) {
        val path = s"$root/frag_$flavor"
        // resolve the LIVE generation: after a compaction the flat dir is
        // the retained grace copy — counting it would report the stale
        // fragmented layout
        val kind = if (flavor == "ivf") Store.PostingsKind else Store.PqCodesKind
        def store = Store.liveDir(spark, path, kind).stripPrefix("file:")
        save(emb.where(pmod(col("vec_id"), lit(2)) === 0), path)
        val ta = System.nanoTime()
        (0 until 40).foreach { s0 =>
          append(path, emb.where(pmod(col("vec_id"), lit(80)) === (2 * s0 + 1)))
        }
        val appendSec = (System.nanoTime() - ta) / 1e9
        val filesBefore = countFiles(store)
        println(s"""{"stage":"${flavor}_append_40x","sec":${Bench.fmt3(appendSec)},"n":$n,"files":$filesBefore}""")
        timed(s"${flavor}_frag_serve_q50", s""","files":$filesBefore""")(serve(path, q50))
        val tc = System.nanoTime()
        Index.compact(spark, path)
        val compactSec = (System.nanoTime() - tc) / 1e9
        val filesAfter = countFiles(store)
        println(s"""{"stage":"${flavor}_compact","sec":${Bench.fmt3(compactSec)},"n":$n,"files":$filesAfter}""")
        timed(s"${flavor}_compacted_serve_q50", s""","files":$filesAfter""")(serve(path, q50))
      }
    }

    if (want("filtered")) {
      // FILTERED-SERVE A/B: same store (label persisted via metaCols),
      // same 50-query batch, with and without the ≈10%-selectivity
      // label predicate — the pushdown win, isolated from build cost
      for ((flavor, save, serve) <- Seq(
          ("ivf",
            (e: DataFrame, p: String) => Index.saveIvf(e, p, metaCols = Seq("label")),
            (p: String, q: DataFrame, w: org.apache.spark.sql.Column) =>
              Index.ivfTopKIndexed(spark, p, q, k = 10, candWhere = w)),
          ("ivfpq",
            (e: DataFrame, p: String) => Index.saveIvfPq(e, p, metaCols = Seq("label")),
            (p: String, q: DataFrame, w: org.apache.spark.sql.Column) =>
              Index.ivfPqTopKIndexed(spark, p, q, k = 10, candWhere = w)))) {
        val path = s"$root/filtered_$flavor"
        save(emb, path)
        timed(s"${flavor}_serve_unfiltered_q50")(serve(path, q50, lit(true)))
        timed(s"${flavor}_serve_filtered_q50")(serve(path, q50, col("label") === 3))
      }
    }

    if (want("lex")) {
      // LEXICAL build-once/serve-many A/B: the inverted-index build is
      // the one-time corpus pass; the inline operator re-derives
      // tf/df/idf per call, the indexed serve reads seed-bucket
      // partitions of the store. q100 = the full bounded seed set (the
      // ret_bm25_seeds workload); q5 = a 5-seed interactive batch (the
      // shape where the bucket prune bites hardest).
      import graft.ml.{LexIndex, Retrieval}
      val docs = Tables.load(spark, sfDir, "documents")
      val corpus = docs.where(!Retrieval.boundedIsQuery)
      val lexPath = s"$root/lex"
      val tl = System.nanoTime()
      // lang rides the postings (metaCols) so the filtered-serve row
      // below prices the predicate-at-the-scan shape; unfiltered serves
      // never read the column (pruned at the scan)
      LexIndex.saveLexical(corpus, lexPath, metaCols = Seq("lang"))
      val buildLex = (System.nanoTime() - tl) / 1e9
      val lexBytes = dirBytes(s"$lexPath/postings")
      val nDocs = docs.count()
      println(s"""{"stage":"lex_build_write","sec":${Bench.fmt3(buildLex)},"n":$nDocs,"store_bytes":$lexBytes}""")
      for ((tag, qDocs, isQ) <- Seq(
          ("q100", docs.where(Retrieval.boundedIsQuery), Retrieval.boundedIsQuery),
          ("q5", docs.where(col("doc_id") < 5), col("doc_id") < 5))) {
        timed(s"lex_inline_$tag") {
          // inline corpus convention: everything outside the seed set
          Retrieval.bm25TopK(docs.where(!Retrieval.boundedIsQuery || isQ),
            isQ, k = 10)
        }
        timed(s"lex_serve_$tag")(
          LexIndex.bm25TopKIndexed(spark, lexPath, qDocs, k = 10))
      }
      // FILTERED serve: true top-k among the predicate's matches, the
      // language cut landing in the pruned postings scan itself
      timed("lex_serve_filtered_q100")(
        LexIndex.bm25TopKIndexed(spark, lexPath,
          docs.where(Retrieval.boundedIsQuery), k = 10,
          candWhere = col("lang").isin("zh", "fr")))
      // HYBRID A/B over the same stores: inline (both legs re-scan the
      // corpus) vs persisted (both legs pruned)
      val annPath = s"$root/hyb_ann"
      Index.saveIvf(emb, annPath)
      timed("hybrid_inline_q100")(Retrieval.hybridRrf(docs, emb, k = 10))
      timed("hybrid_serve_q100")(Retrieval.hybridRrfIndexed(spark, lexPath,
        annPath, docs.where(Retrieval.boundedIsQuery),
        emb.where(col("vec_id") < 100), k = 10))
      // the compressed-tier hybrid: dense leg = PQ shortlist + exact
      // refine over a withRaw store — the 100-TB shape's serve A/B
      // against the raw-leg hybrid above
      val annPqPath = s"$root/hyb_annpq"
      Index.saveIvfPq(emb, annPqPath, withRaw = true)
      timed("hybrid_serve_pq_q100")(Retrieval.hybridRrfIndexed(spark,
        lexPath, annPqPath, docs.where(Retrieval.boundedIsQuery),
        emb.where(col("vec_id") < 100), k = 10, denseTier = "pq_rerank"))
    }

    if (want("race")) {
      // COMPACTION RACE: a serve PLANNED before the generation flip must
      // execute bit-equal after it — the versioned store retains the
      // previous generation exactly for this reader. Measured, not
      // asserted: checksum(racing serve) vs checksum(quiet serve).
      val path = s"$root/race"
      Index.saveIvf(emb.where(pmod(col("vec_id"), lit(2)) === 0), path)
      (0 until 8).foreach { s0 =>
        Index.appendIvf(spark, path,
          emb.where(pmod(col("vec_id"), lit(16)) === (2 * s0 + 1)))
      }
      // order-independent content checksum (the StreamBench convention):
      // count + two 60-bit md5-slice sums in decimal — no long overflow
      def checksum(df: DataFrame): String = {
        val j = md5(to_json(struct(df.columns.sorted.map(col): _*)))
        val r = df.select(count(lit(1)).cast("decimal(38,0)"),
          sum(conv(substring(j, 1, 15), 16, 10).cast("decimal(38,0)")),
          sum(conv(substring(j, 17, 15), 16, 10).cast("decimal(38,0)"))).head()
        (0 until 3).map(i => Option(r.getDecimal(i)).map(_.toString)
          .getOrElse("0")).mkString(":")
      }
      val quiet = checksum(Index.ivfTopKIndexed(spark, path, q50, k = 10))
      val planned = Index.ivfTopKIndexed(spark, path, q50, k = 10)
      planned.queryExecution.executedPlan // pin file listing pre-flip
      val tr = System.nanoTime()
      Index.compact(spark, path)
      val compactSec = (System.nanoTime() - tr) / 1e9
      val racing = checksum(planned) // executes AFTER the flip
      val post = checksum(Index.ivfTopKIndexed(spark, path, q50, k = 10))
      println(s"""{"stage":"race_compact","sec":${Bench.fmt3(compactSec)},"n":$n,"quiet":"$quiet","racing":"$racing","post_compact":"$post","racing_equal":${racing == quiet},"post_equal":${post == quiet}}""")

      // REBUILD RACE: the stronger version of the same contract — the
      // rebuild replaces EVERY kind (quantizers included) yet publishes
      // through one store-level commit marker, so the pre-planned serve
      // still answers bit-equal from the grace generations. post_equal
      // is intentionally absent: a rebuild re-trains the cell budget, so
      // the post-flip serve is a DIFFERENT (fresh-build) plan whose
      // result equals the fresh-store serve, checked by the spec suite.
      val quietR = checksum(Index.ivfTopKIndexed(spark, path, q50, k = 10))
      val plannedR = Index.ivfTopKIndexed(spark, path, q50, k = 10)
      plannedR.queryExecution.executedPlan // pin file listing pre-flip
      val trr = System.nanoTime()
      Index.rebuild(spark, path)
      val rebuildSec = (System.nanoTime() - trr) / 1e9
      val racingR = checksum(plannedR) // executes AFTER the flip
      println(s"""{"stage":"race_rebuild","sec":${Bench.fmt3(rebuildSec)},"n":$n,"quiet":"$quietR","racing":"$racingR","racing_equal":${racingR == quietR}}""")
    }

    if (want("vacuum")) {
      // GENERATION VACUUM: a store rebuilt once and then only appended
      // keeps its superseded full-size generation forever (only the
      // NEXT publish retires it) — vacuum reclaims it explicitly. Rows:
      // bytes reclaimed on the rebuilt store, and the reader contract
      // (a serve planned AFTER the flip survives keepGenerations = 1).
      def checksum(df: DataFrame): String = {
        val j = md5(to_json(struct(df.columns.sorted.map(col): _*)))
        val r = df.select(count(lit(1)).cast("decimal(38,0)"),
          sum(conv(substring(j, 1, 15), 16, 10).cast("decimal(38,0)")),
          sum(conv(substring(j, 17, 15), 16, 10).cast("decimal(38,0)"))).head()
        (0 until 3).map(i => Option(r.getDecimal(i)).map(_.toString)
          .getOrElse("0")).mkString(":")
      }
      val path = s"$root/vacuum"
      Index.saveIvf(emb, path)
      Index.rebuild(spark, path) // leaves the superseded grace generation
      val bytesBefore = dirBytes(path.stripPrefix("file:"))
      val quiet = checksum(Index.ivfTopKIndexed(spark, path, q50, k = 10))
      val planned = Index.ivfTopKIndexed(spark, path, q50, k = 10)
      planned.queryExecution.executedPlan // pin file listing pre-vacuum
      val tv = System.nanoTime()
      val rep = Store.vacuum(spark, path).head()
      val vacSec = (System.nanoTime() - tv) / 1e9
      val racing = checksum(planned) // executes after the reclaim
      println(s"""{"stage":"vacuum","sec":${Bench.fmt3(vacSec)},"n":$n,"store_bytes_before":$bytesBefore,"bytes_reclaimed":${rep.getLong(1)},"generations_removed":${rep.getLong(0)},"racing_equal":${racing == quiet}}""")
    }

    if (want("rerank")) {
      // PERSISTED RERANK A/B: the deployment compressed-serve shape (ADC
      // shortlist from stored pq_codes + exact refine from co-located
      // raw postings) vs the inline eval that rebuilds the index per
      // call. The inline leg is skipped past 1M vectors — its per-call
      // rebuild is the documented eval-class cost (quadratic-ish in
      // corpus), and the serve-vs-serve number is what deployment prices.
      val path = s"$root/rerank"
      val tb = System.nanoTime()
      Index.saveIvfPq(emb, path, withRaw = true)
      val buildSec = (System.nanoTime() - tb) / 1e9
      val bytes = dirBytes(s"$path/pq_codes") + dirBytes(s"$path/postings")
      println(s"""{"stage":"rerank_build_write","sec":${Bench.fmt3(buildSec)},"n":$n,"store_bytes":$bytes}""")
      for ((tag, q, isQ) <- Seq(
          ("q50", q50, Similarity.sampledIsQuery),
          ("q5", q5, col("vec_id") < 5))) {
        if (n <= 1000000L)
          timed(s"rerank_inline_$tag")(
            Similarity.ivfPqRerankTopK(emb, isQ, k = 10))
        timed(s"rerank_serve_$tag")(
          Index.ivfPqRerankTopKIndexed(spark, path, q, k = 10))
        // the ADC-only serve on the same store, for the refine surcharge
        timed(s"rerank_adc_only_$tag")(
          Index.ivfPqTopKIndexed(spark, path, q, k = 10))
      }
    }

    if (want("lexrace")) {
      // LEXICAL COMPACTION RACE: the dense race stage's sparse twin — a
      // serve PLANNED before compactLexical's generation flip must
      // execute bit-equal (the retained previous generation is the
      // reader's contract; the shared Store.compact publish).
      import graft.ml.{LexIndex, Retrieval}
      val docs = Tables.load(spark, sfDir, "documents")
      val corpus = docs.where(!Retrieval.boundedIsQuery)
      val path = s"$root/lexrace"
      LexIndex.saveLexical(corpus.where(pmod(col("doc_id"), lit(2)) === 0), path)
      (0 until 8).foreach { s0 =>
        LexIndex.appendLexical(spark, path,
          corpus.where(pmod(col("doc_id"), lit(16)) === (2 * s0 + 1)))
      }
      def checksum(df: DataFrame): String = {
        val j = md5(to_json(struct(df.columns.sorted.map(col): _*)))
        val r = df.select(count(lit(1)).cast("decimal(38,0)"),
          sum(conv(substring(j, 1, 15), 16, 10).cast("decimal(38,0)")),
          sum(conv(substring(j, 17, 15), 16, 10).cast("decimal(38,0)"))).head()
        (0 until 3).map(i => Option(r.getDecimal(i)).map(_.toString)
          .getOrElse("0")).mkString(":")
      }
      val seeds = docs.where(Retrieval.boundedIsQuery)
      val quiet = checksum(LexIndex.bm25TopKIndexed(spark, path, seeds, k = 10))
      val planned = LexIndex.bm25TopKIndexed(spark, path, seeds, k = 10)
      planned.queryExecution.executedPlan // pin file listing pre-flip
      val tr = System.nanoTime()
      LexIndex.compactLexical(spark, path)
      val compactSec = (System.nanoTime() - tr) / 1e9
      val racing = checksum(planned) // executes AFTER the flip
      val post = checksum(LexIndex.bm25TopKIndexed(spark, path, seeds, k = 10))
      val nd = corpus.count()
      println(s"""{"stage":"lex_race_compact","sec":${Bench.fmt3(compactSec)},"n":$nd,"quiet":"$quiet","racing":"$racing","post_compact":"$post","racing_equal":${racing == quiet},"post_equal":${post == quiet}}""")

      // FOLD RACE: foldStats republishes terms+stats as one committed
      // generation — a serve planned before the flip answers from the
      // pre-fold snapshot (scores CHANGE under a fold, so reader safety
      // here means old-consistent, never mixed)
      val quietF = checksum(LexIndex.bm25TopKIndexed(spark, path, seeds, k = 10))
      val plannedF = LexIndex.bm25TopKIndexed(spark, path, seeds, k = 10)
      plannedF.queryExecution.executedPlan // pin file listing pre-flip
      val tf0 = System.nanoTime()
      LexIndex.foldStats(spark, path)
      val foldSec = (System.nanoTime() - tf0) / 1e9
      val racingF = checksum(plannedF)
      println(s"""{"stage":"lex_race_fold","sec":${Bench.fmt3(foldSec)},"n":$nd,"quiet":"$quietF","racing":"$racingF","racing_equal":${racingF == quietF}}""")

      // REBUILD RACE: the full re-grid replaces postings AND terms under
      // one store-level commit marker — the dense race_rebuild contract,
      // sparse flavor (the caller supplies the corpus; postings are not
      // invertible to text)
      val quietR = checksum(LexIndex.bm25TopKIndexed(spark, path, seeds, k = 10))
      val plannedR = LexIndex.bm25TopKIndexed(spark, path, seeds, k = 10)
      plannedR.queryExecution.executedPlan // pin file listing pre-flip
      val tr0 = System.nanoTime()
      LexIndex.rebuildLexical(corpus, path)
      val rebuildSec = (System.nanoTime() - tr0) / 1e9
      val racingR = checksum(plannedR)
      println(s"""{"stage":"lex_race_rebuild","sec":${Bench.fmt3(rebuildSec)},"n":$nd,"quiet":"$quietR","racing":"$racingR","racing_equal":${racingR == quietR}}""")
    }

    if (want("tiers")) {
      // THREE-TIER storage/latency/recall A/B on one corpus and one
      // query batch: raw postings (8 B/dim + norm), SQ8 codes (1 B/dim
      // + rescale), PQ codes (nSub int64 codes/vec) — the axis a
      // deployment actually chooses along. Run on the clustered family
      // corpus for a recall signal (the jitter corpus pins recall to
      // the probe fraction for every tier — SCALING.md round 11/12).
      val qPred = col("vec_id") >= 1000 && col("vec_id") < 1050
      // the exact baseline is evaluated once and PERSISTED: recallOf
      // runs ~12 times across the tier rows, and an unpersisted plan
      // re-runs the nq x n brute-force scan (plus its 6-dp round — a
      // BigDecimal per pair) every time — at 1000x that unrecorded
      // oracle cost dominated the stage's WALL time ~10x while the
      // recorded build/serve numbers stayed clean
      val exact = Similarity.bruteForceTopK(emb, qPred, 10).persist()
      exact.count()
      def recallOf(df: DataFrame): Double =
        Similarity.recallOf(exact, df, 10).head().getDouble(0)
      val qT = emb.where(qPred)
      for ((tier, save, serve, kind) <- Seq(
          ("raw",
            (p: String) => Index.saveIvf(emb, p, forceFlat = true),
            (p: String) => Index.ivfTopKIndexed(spark, p, qT, k = 10),
            Store.PostingsKind),
          ("sq8",
            (p: String) => Index.saveIvfSq(emb, p, forceFlat = true,
              withRaw = true),
            (p: String) => Index.ivfSqTopKIndexed(spark, p, qT, k = 10),
            Store.SqCodesKind),
          ("pq",
            (p: String) => Index.saveIvfPq(emb, p, forceFlat = true),
            (p: String) => Index.ivfPqTopKIndexed(spark, p, qT, k = 10),
            Store.PqCodesKind))) {
        val path = s"$root/tier_$tier"
        val tb = System.nanoTime()
        save(path)
        val buildSec = (System.nanoTime() - tb) / 1e9
        val bytes = dirBytes(Store.liveDir(spark, path, kind).stripPrefix("file:"))
        val serveSec = timed(s"tier_${tier}_serve_q50")(serve(path))
        val rec = recallOf(serve(path))
        println(s"""{"stage":"tier_$tier","n":$n,"build_sec":${Bench.fmt3(buildSec)},"store_bytes":$bytes,"serve_sec":${Bench.fmt3(serveSec)},"recall10":$rec}""")
      }
      // the SQ deployment composition: int8 shortlist + exact refine
      // from the co-located raw flavor (built above with withRaw)
      val sqPath = s"$root/tier_sq8"
      // default depth = the auto rule (max(10k, 40)); the fixed 40 was
      // the measured 0.49-recall footgun this default replaced
      val rrDepth = Similarity.autoRerank(10, 0)
      val rrSec = timed("tier_sq8_rerank_serve_q50")(
        Index.ivfSqRerankTopKIndexed(spark, sqPath, qT, k = 10))
      val rrRec = recallOf(
        Index.ivfSqRerankTopKIndexed(spark, sqPath, qT, k = 10))
      println(s"""{"stage":"tier_sq8_rerank","n":$n,"rerank_depth":$rrDepth,"serve_sec":${Bench.fmt3(rrSec)},"recall10":$rrRec}""")
      // residual-coded SQ: same byte budget, int8 step at CELL scale —
      // the no-refine path to high recall on clustered corpora. Built
      // withRaw so the rerank row below composes on the SAME store
      val sqrPath = s"$root/tier_sq8r"
      val trb = System.nanoTime()
      Index.saveIvfSq(emb, sqrPath, forceFlat = true, residual = true,
        withRaw = true)
      val sqrBuild = (System.nanoTime() - trb) / 1e9
      val sqrBytes = dirBytes(
        Store.liveDir(spark, sqrPath, Store.SqCodesKind).stripPrefix("file:"))
      val sqrSec = timed("tier_sq8_residual_serve_q50")(
        Index.ivfSqTopKIndexed(spark, sqrPath, qT, k = 10))
      val sqrRec = recallOf(Index.ivfSqTopKIndexed(spark, sqrPath, qT, k = 10))
      println(s"""{"stage":"tier_sq8_residual","n":$n,"build_sec":${Bench.fmt3(sqrBuild)},"store_bytes":$sqrBytes,"serve_sec":${Bench.fmt3(sqrSec)},"recall10":$sqrRec}""")
      // residual shortlist + exact refine: the coding-aware rerank
      // (dequantized-cosine shortlist — the absolute integer-dot over
      // residual codes would be garbage) composed with the raw flavor
      val sqrrSec = timed("tier_sq8_residual_rerank_serve_q50")(
        Index.ivfSqRerankTopKIndexed(spark, sqrPath, qT, k = 10))
      val sqrrRec = recallOf(
        Index.ivfSqRerankTopKIndexed(spark, sqrPath, qT, k = 10))
      println(s"""{"stage":"tier_sq8_residual_rerank","n":$n,"rerank_depth":$rrDepth,"serve_sec":${Bench.fmt3(sqrrSec)},"recall10":$sqrrRec}""")
      // MATRYOSHKA tier: prefix-dim shortlist (16 of 64 dims — a
      // quarter of the raw scan bytes, no quantizer) + full-width
      // refine from the co-located raw flavor; the DIMENSION-cut
      // compression axis next to SQ's precision cut and PQ's codebook
      // cut on the same ladder
      val mrlPath = s"$root/tier_mrl"
      val tmb = System.nanoTime()
      Index.saveIvfMrl(emb, mrlPath, prefixDims = 16, forceFlat = true)
      val mrlBuild = (System.nanoTime() - tmb) / 1e9
      val mrlBytes = dirBytes(
        Store.liveDir(spark, mrlPath, Store.MrlCodesKind).stripPrefix("file:"))
      val mrlSec = timed("tier_mrl_serve_q50")(
        Index.ivfMrlRerankTopKIndexed(spark, mrlPath, qT, k = 10))
      val mrlRec = recallOf(
        Index.ivfMrlRerankTopKIndexed(spark, mrlPath, qT, k = 10))
      println(s"""{"stage":"tier_mrl","n":$n,"build_sec":${Bench.fmt3(mrlBuild)},"store_bytes":$mrlBytes,"rerank_depth":$rrDepth,"serve_sec":${Bench.fmt3(mrlSec)},"recall10":$mrlRec}""")
      // trained-cells residual SQ: kmeans centroids tighten every cell's
      // residual spread, so the int8 step shrinks with NO serve-time or
      // byte cost — the ladder's last free rung before a raw refine
      val sqtPath = s"$root/tier_sq8rt"
      val ttb = System.nanoTime()
      Index.saveIvfSq(emb, sqtPath, forceFlat = true, residual = true,
        trained = true)
      val sqtBuild = (System.nanoTime() - ttb) / 1e9
      val sqtBytes = dirBytes(
        Store.liveDir(spark, sqtPath, Store.SqCodesKind).stripPrefix("file:"))
      val sqtSec = timed("tier_sq8_residual_trained_serve_q50")(
        Index.ivfSqTopKIndexed(spark, sqtPath, qT, k = 10))
      val sqtRec = recallOf(Index.ivfSqTopKIndexed(spark, sqtPath, qT, k = 10))
      println(s"""{"stage":"tier_sq8_residual_trained","n":$n,"build_sec":${Bench.fmt3(sqtBuild)},"store_bytes":$sqtBytes,"serve_sec":${Bench.fmt3(sqtSec)},"recall10":$sqtRec}""")
      System.out.flush()
      // MRL × SQ8 combined tier: the prefix slice int8-quantized — 1
      // byte per kept dim, so the shortlist reads ~1/32 of the raw
      // bytes at 16-of-64 (vs the raw prefix's 1/4) with the same
      // full-width exact refine; the dimension and precision cuts
      // COMPOSE on one ladder rung
      val mrlqPath = s"$root/tier_mrlsq"
      val tmqb = System.nanoTime()
      Index.saveIvfMrl(emb, mrlqPath, prefixDims = 16, forceFlat = true,
        quantized = true)
      val mrlqBuild = (System.nanoTime() - tmqb) / 1e9
      val mrlqBytes = dirBytes(
        Store.liveDir(spark, mrlqPath, Store.MrlCodesKind).stripPrefix("file:"))
      val mrlqSec = timed("tier_mrl_sq_serve_q50")(
        Index.ivfMrlRerankTopKIndexed(spark, mrlqPath, qT, k = 10))
      val mrlqRec = recallOf(
        Index.ivfMrlRerankTopKIndexed(spark, mrlqPath, qT, k = 10))
      println(s"""{"stage":"tier_mrl_sq","n":$n,"build_sec":${Bench.fmt3(mrlqBuild)},"store_bytes":$mrlqBytes,"rerank_depth":$rrDepth,"serve_sec":${Bench.fmt3(mrlqSec)},"recall10":$mrlqRec}""")
      System.out.flush()
      // trained residual PQ + exact refine at the auto depth — the
      // PRACTICAL PQ configuration, next to the honest codes-only
      // tier_pq row (seeded absolute codes read recall ~0.07 on the
      // 1000× family corpus: technically the cheapest bytes, not a
      // config anyone deploys without refine)
      val pqtPath = s"$root/tier_pqt"
      val tpb = System.nanoTime()
      Index.saveIvfPq(emb, pqtPath, forceFlat = true, trained = true,
        residual = true, withRaw = true)
      val pqtBuild = (System.nanoTime() - tpb) / 1e9
      val pqtBytes = dirBytes(
        Store.liveDir(spark, pqtPath, Store.PqCodesKind).stripPrefix("file:"))
      val pqtAdcRec = recallOf(
        Index.ivfPqTopKIndexed(spark, pqtPath, qT, k = 10))
      val pqtSec = timed("tier_pq_trained_rerank_serve_q50")(
        Index.ivfPqRerankTopKIndexed(spark, pqtPath, qT, k = 10))
      val pqtRec = recallOf(
        Index.ivfPqRerankTopKIndexed(spark, pqtPath, qT, k = 10))
      println(s"""{"stage":"tier_pq_trained_rerank","n":$n,"build_sec":${Bench.fmt3(pqtBuild)},"store_bytes":$pqtBytes,"rerank_depth":$rrDepth,"adc_recall10":$pqtAdcRec,"serve_sec":${Bench.fmt3(pqtSec)},"recall10":$pqtRec}""")
    }

    if (want("deletes")) {
      // DELETION lifecycle A/B, both store flavors: the delete itself is
      // an O(batch) sidecar write (priced vs corpus size), the masked
      // serve pays the tombstone anti-join (priced vs the clean serve),
      // and compaction reclaims the dead mass (serve recovers, checksum
      // equal throughout — masking and purging must not change answers
      // beyond removing the deleted rows).
      import graft.ml.{LexIndex, Retrieval}
      def checksum(df: DataFrame): String = {
        val j = md5(to_json(struct(df.columns.sorted.map(col): _*)))
        val r = df.select(count(lit(1)).cast("decimal(38,0)"),
          sum(conv(substring(j, 1, 15), 16, 10).cast("decimal(38,0)")),
          sum(conv(substring(j, 17, 15), 16, 10).cast("decimal(38,0)"))).head()
        (0 until 3).map(i => Option(r.getDecimal(i)).map(_.toString)
          .getOrElse("0")).mkString(":")
      }
      // dense combined store: ADC + rerank serving under deletion
      val path = s"$root/del"
      Index.saveIvfPq(emb, path, withRaw = true)
      timed("del_serve_clean_q50")(
        Index.ivfPqRerankTopKIndexed(spark, path, q50, k = 10))
      val delBatch = emb.where(pmod(col("vec_id"), lit(10)) === 1)
        .select("vec_id")
      val td = System.nanoTime()
      Index.delete(spark, path, delBatch)
      val delSec = (System.nanoTime() - td) / 1e9
      val ds = Index.deleteStats(spark, path).head()
      println(s"""{"stage":"del_tombstone_write","sec":${Bench.fmt3(delSec)},"n":$n,"n_tombstones":${ds.getLong(1)},"n_masked":${ds.getLong(2)},"masked_frac":${ds.getDouble(3)}}""")
      val maskedSum = checksum(
        Index.ivfPqRerankTopKIndexed(spark, path, q50, k = 10))
      timed("del_serve_masked_q50")(
        Index.ivfPqRerankTopKIndexed(spark, path, q50, k = 10))
      val tc = System.nanoTime()
      Index.compact(spark, path)
      val compactSec = (System.nanoTime() - tc) / 1e9
      val compactedSum = checksum(
        Index.ivfPqRerankTopKIndexed(spark, path, q50, k = 10))
      timed("del_serve_compacted_q50")(
        Index.ivfPqRerankTopKIndexed(spark, path, q50, k = 10))
      println(s"""{"stage":"del_compact","sec":${Bench.fmt3(compactSec)},"n":$n,"purge_equal":${compactedSum == maskedSum}}""")
      // lexical twin: BM25 serving under document deletion
      val docs = Tables.load(spark, sfDir, "documents")
      val corpus = docs.where(!Retrieval.boundedIsQuery)
      val seeds = docs.where(Retrieval.boundedIsQuery)
      val lp = s"$root/lexdel"
      LexIndex.saveLexical(corpus, lp)
      val nd = corpus.count()
      timed("lexdel_serve_clean_q100", s""","nd":$nd""")(
        LexIndex.bm25TopKIndexed(spark, lp, seeds, k = 10))
      val tld = System.nanoTime()
      LexIndex.deleteDocs(spark, lp,
        corpus.where(pmod(col("doc_id"), lit(10)) === 1).select("doc_id"))
      val lexDelSec = (System.nanoTime() - tld) / 1e9
      val lds = LexIndex.deleteStats(spark, lp).head()
      println(s"""{"stage":"lexdel_tombstone_write","sec":${Bench.fmt3(lexDelSec)},"nd":$nd,"n_tombstones":${lds.getLong(1)},"n_masked":${lds.getLong(2)},"masked_frac":${lds.getDouble(3)}}""")
      val lexMaskedSum = checksum(
        LexIndex.bm25TopKIndexed(spark, lp, seeds, k = 10))
      timed("lexdel_serve_masked_q100", s""","nd":$nd""")(
        LexIndex.bm25TopKIndexed(spark, lp, seeds, k = 10))
      val tlc = System.nanoTime()
      LexIndex.compactLexical(spark, lp)
      val lexCompactSec = (System.nanoTime() - tlc) / 1e9
      val lexCompactedSum = checksum(
        LexIndex.bm25TopKIndexed(spark, lp, seeds, k = 10))
      timed("lexdel_serve_compacted_q100", s""","nd":$nd""")(
        LexIndex.bm25TopKIndexed(spark, lp, seeds, k = 10))
      println(s"""{"stage":"lexdel_compact","sec":${Bench.fmt3(lexCompactSec)},"nd":$nd,"purge_equal":${lexCompactedSum == lexMaskedSum}}""")
    }

    if (want("lexrebuild")) {
      // LEXICAL REBUILD-DECISION closed loop (the dense rebuild stage's
      // sparse twin): build on a tenth of the corpus, append the rest —
      // LexIndex.stats shows the frozen n_docs falling behind, the
      // unscoreable blind-spot mass, and the bucket-grid dilution — then
      // rebuild and measure the serve recovered. Note the rebuild also
      // CORRECTS scores (frozen idf → fresh idf; unscoreable terms become
      // scoreable), so this is the quality loop, not just a speed one.
      import graft.ml.{LexIndex, Retrieval}
      val docs = Tables.load(spark, sfDir, "documents")
      val corpus = docs.where(!Retrieval.boundedIsQuery)
      val seeds = docs.where(Retrieval.boundedIsQuery)
      val path = s"$root/lexrebuild"
      LexIndex.saveLexical(corpus.where(pmod(col("doc_id"), lit(10)) === 0), path)
      (1 until 10).foreach { r =>
        LexIndex.appendLexical(spark, path,
          corpus.where(pmod(col("doc_id"), lit(10)) === r))
      }
      val st = LexIndex.stats(spark, path).head()
      println(s"""{"stage":"lexrebuild_stats","n_docs_frozen":${st.getLong(0)},"n_docs_live":${st.getLong(1)},"unscoreable_postings":${st.getLong(2)},"n_buckets":${st.getLong(3)},"auto_buckets":${st.getLong(4)},"dilution":${st.getDouble(5)}}""")
      val dilutedSec = timed("lexrebuild_serve_diluted_q100")(
        LexIndex.bm25TopKIndexed(spark, path, seeds, k = 10))
      def checksum(df: DataFrame): String = {
        val j = md5(to_json(struct(df.columns.sorted.map(col): _*)))
        val r = df.select(count(lit(1)).cast("decimal(38,0)"),
          sum(conv(substring(j, 1, 15), 16, 10).cast("decimal(38,0)")),
          sum(conv(substring(j, 17, 15), 16, 10).cast("decimal(38,0)"))).head()
        (0 until 3).map(i => Option(r.getDecimal(i)).map(_.toString)
          .getOrElse("0")).mkString(":")
      }
      // THE FOLD OPTION: refresh df/n_docs/avgdl from the append
      // sidecars — no corpus re-tokenize, no postings rewrite. Prices
      // the cheap refresh against the full rebuild below; the checksum
      // equality is the fold's whole claim (scores exactly like a fresh
      // full-corpus build).
      val tf = System.nanoTime()
      LexIndex.foldStats(spark, path)
      val foldSec = (System.nanoTime() - tf) / 1e9
      val stFold = LexIndex.stats(spark, path).head()
      println(s"""{"stage":"lexrebuild_fold","sec":${Bench.fmt3(foldSec)},"unscoreable_after_fold":${stFold.getLong(2)}}""")
      val foldServeSec = timed("lexrebuild_serve_folded_q100")(
        LexIndex.bm25TopKIndexed(spark, path, seeds, k = 10))
      val foldSum = checksum(LexIndex.bm25TopKIndexed(spark, path, seeds, k = 10))
      val tr = System.nanoTime()
      LexIndex.saveLexical(corpus, path) // the decision: drift → rebuild
      val rebuildSec = (System.nanoTime() - tr) / 1e9
      println(s"""{"stage":"lexrebuild_build","sec":${Bench.fmt3(rebuildSec)}}""")
      val freshSec = timed("lexrebuild_serve_fresh_q100")(
        LexIndex.bm25TopKIndexed(spark, path, seeds, k = 10))
      val freshSum = checksum(LexIndex.bm25TopKIndexed(spark, path, seeds, k = 10))
      val stAfter = LexIndex.stats(spark, path).head()
      println(s"""{"stage":"lexrebuild_verdict","dilution_before":${st.getDouble(5)},"unscoreable_before":${st.getLong(2)},"unscoreable_after":${stAfter.getLong(2)},"diluted_sec":${Bench.fmt3(dilutedSec)},"fold_sec":${Bench.fmt3(foldSec)},"rebuild_sec":${Bench.fmt3(rebuildSec)},"folded_serve_sec":${Bench.fmt3(foldServeSec)},"fresh_sec":${Bench.fmt3(freshSec)},"fold_equals_rebuild":${foldSum == freshSum},"blind_spot_cleared":${stAfter.getLong(2) == 0L}}""")
    }

    if (want("trained")) {
      // TRAINED-BUILD cost + quality: what the Lloyd scans add to the
      // one-time build, and what they buy in recall@10. Two measurement
      // hygiene rules, both learned the hard way:
      //  - the query set is DISJOINT from every seed id (ids 1000–1049;
      //    seed codewords/centroids are the smallest nCode/nCells ids) —
      //    with the default vec_id<50 sample, the seed codebook CONTAINS
      //    the query families' own positions and the A/B inverts
      //    (measured: seed 0.24 vs trained 0.10 at the 100× family
      //    corpus, a pure fixture artifact);
      //  - recall is reported along the codebook-size axis (nCode 16 and
      //    64): absolute-coding PQ error shrinks with codewords, and the
      //    trained-vs-seed gap is exactly the Lloyd-vs-random-sample
      //    quantization-error gap, so it widens with nCode.
      // SPARK_GRAFT_TRAIN_ITERS: Lloyd rounds for the trained builds (3 =
      // the oracle-pinned default; the recall-vs-iterations curve is the
      // convergence evidence)
      val trainIters = sys.env.getOrElse("SPARK_GRAFT_TRAIN_ITERS", "3").toInt
      // SPARK_GRAFT_TRAIN_CELLS: coarse-cell floor for the stage's builds
      // (0 = autoCells). Residual coding's win condition is cells fine
      // enough that a cell ≈ one cluster — autoCells' occupancy target
      // (n/5000) can sit BELOW the corpus' cluster count (100× family
      // corpus: 40 cells / 100 macro-clusters), which caps what residual
      // recentring can shrink.
      val trainCells = sys.env.getOrElse("SPARK_GRAFT_TRAIN_CELLS", "0").toInt
      val cellsArg = if (trainCells > 0) trainCells else 16
      val qT = emb.where(col("vec_id") >= 1000 && col("vec_id") < 1050)
      val exact = Similarity.bruteForceTopK(emb,
        col("vec_id") >= 1000 && col("vec_id") < 1050, 10).persist()
      exact.count() // one oracle evaluation, not one per recallOf call
      def recallOf(df: DataFrame): Double =
        Similarity.recallOf(exact, df, 10).head().getDouble(0)
      for (nCode <- Seq(16, 64)) {
        val seedPath = s"$root/tr_seed_$nCode"
        val trainPath = s"$root/tr_train_$nCode"
        val ts0 = System.nanoTime()
        // forceFlat: the family fixture is adversarial for two-level
        // routing (20 supers cannot cover 100 macro-clusters; measured
        // recall 0.0 at 1000x from routing alone) — the flat assignment
        // isolates the CODEBOOK axis this stage exists to measure
        Index.saveIvfPq(emb, seedPath, nCells = cellsArg, nCode = nCode,
          withRaw = true, forceFlat = true)
        val seedSec = (System.nanoTime() - ts0) / 1e9
        val tt0 = System.nanoTime()
        Index.saveIvfPq(emb, trainPath, nCells = cellsArg, nCode = nCode,
          trained = true, withRaw = true, trainIters = trainIters,
          forceFlat = true)
        val trainSec = (System.nanoTime() - tt0) / 1e9
        println(s"""{"stage":"ivfpq_build_seed","nCode":$nCode,"sec":${Bench.fmt3(seedSec)},"n":$n}""")
        println(s"""{"stage":"ivfpq_build_trained","nCode":$nCode,"iters":$trainIters,"sec":${Bench.fmt3(trainSec)},"n":$n}""")
        val rSeed = recallOf(Index.ivfPqTopKIndexed(spark, seedPath, qT, k = 10))
        val rTrained = recallOf(Index.ivfPqTopKIndexed(spark, trainPath, qT, k = 10))
        println(s"""{"stage":"ivfpq_recall_sampled","nCode":$nCode,"iters":$trainIters,"cells":$cellsArg,"n":$n,"seed":$rSeed,"trained":$rTrained}""")
        // the DEPLOYMENT number: ADC shortlist + exact refine from the
        // co-located raw flavor — what a production serve returns
        val rrSeed = recallOf(
          Index.ivfPqRerankTopKIndexed(spark, seedPath, qT, k = 10, rerank = 40))
        val rrTrained = recallOf(
          Index.ivfPqRerankTopKIndexed(spark, trainPath, qT, k = 10, rerank = 40))
        println(s"""{"stage":"ivfpq_rerank_recall_sampled","nCode":$nCode,"iters":$trainIters,"n":$n,"seed":$rrSeed,"trained":$rrTrained}""")
        // RESIDUAL coding at the same code budget — the FAISS-IVFPQ
        // shape: ADC error scales with cell spread, not corpus spread
        val residPath = s"$root/tr_resid_$nCode"
        val tr0 = System.nanoTime()
        Index.saveIvfPq(emb, residPath, nCells = cellsArg, nCode = nCode,
          trained = true, residual = true, withRaw = true,
          trainIters = trainIters, forceFlat = true)
        val residSec = (System.nanoTime() - tr0) / 1e9
        println(s"""{"stage":"ivfpq_build_residual","nCode":$nCode,"iters":$trainIters,"sec":${Bench.fmt3(residSec)},"n":$n}""")
        val rResid = recallOf(Index.ivfPqTopKIndexed(spark, residPath, qT, k = 10))
        val rrResid = recallOf(
          Index.ivfPqRerankTopKIndexed(spark, residPath, qT, k = 10, rerank = 40))
        println(s"""{"stage":"ivfpq_residual_recall_sampled","nCode":$nCode,"iters":$trainIters,"cells":$cellsArg,"n":$n,"adc":$rResid,"rerank":$rrResid}""")
      }
    }

    if (want("rebuild")) {
      // REBUILD-DECISION closed loop: build on a tenth of the corpus
      // (frozen cell budget), append the other nine tenths — dilution =
      // autoCells(now)/n_cells crosses the rebuild threshold — then
      // rebuild and show the serve time recovered. This turns
      // ann_index_stats from a reported ratio into an acted-on signal:
      // the diluted store serves nProbe/n_cells of a 10× corpus per
      // query; the rebuild restores the designed probed fraction.
      val path = s"$root/rebuild"
      Index.saveIvf(emb.where(pmod(col("vec_id"), lit(10)) === 0), path)
      (1 until 10).foreach { r =>
        Index.appendIvf(spark, path, emb.where(pmod(col("vec_id"), lit(10)) === r))
      }
      val st = Index.stats(spark, path).head()
      val dilution = st.getDouble(3)
      println(s"""{"stage":"rebuild_stats","n":$n,"n_cells":${st.getLong(1)},"auto_cells":${st.getLong(2)},"dilution":$dilution}""")
      val dilutedSec = timed("rebuild_serve_diluted_q50")(
        Index.ivfTopKIndexed(spark, path, q50, k = 10))
      val tr = System.nanoTime()
      Index.saveIvf(emb, path) // the decision: dilution > 1 → rebuild
      val rebuildSec = (System.nanoTime() - tr) / 1e9
      println(s"""{"stage":"rebuild_build","sec":${Bench.fmt3(rebuildSec)},"n":$n}""")
      val freshSec = timed("rebuild_serve_fresh_q50")(
        Index.ivfTopKIndexed(spark, path, q50, k = 10))
      println(s"""{"stage":"rebuild_verdict","n":$n,"dilution":$dilution,"diluted_sec":${Bench.fmt3(dilutedSec)},"fresh_sec":${Bench.fmt3(freshSec)},"recovered":${freshSec < dilutedSec}}""")
    }

    if (want("rerankdepth")) {
      // the tier ladder's honest limit, priced: on the jitter corpus no
      // candidate separation clears the absolute int8 step, so the
      // SHORTLIST is the recall bound (tier_sq8_rerank 0.49 at depth
      // 40, BENCH_r13_tiers) and the remedy the tiers section names is
      // a deeper shortlist, not a better refine. Sweep the depth on the
      // same store: recall must climb toward raw grade, and the rows
      // price what each rung costs at serve time.
      val qPred = col("vec_id") >= 1000 && col("vec_id") < 1050
      val exact = Similarity.bruteForceTopK(emb, qPred, 10).persist()
      exact.count() // one oracle evaluation, not one per depth rung
      val qT = emb.where(qPred)
      val path = s"$root/rerankdepth"
      Index.saveIvfSq(emb, path, forceFlat = true, withRaw = true)
      for (depth <- Seq(40, 100, 200, 400)) {
        val sec = timed(s"sq8_rerank_d$depth")(
          Index.ivfSqRerankTopKIndexed(spark, path, qT, k = 10,
            rerank = depth))
        val rec = Similarity.recallOf(exact,
          Index.ivfSqRerankTopKIndexed(spark, path, qT, k = 10,
            rerank = depth), 10).head().getDouble(0)
        println(s"""{"stage":"sq8_rerank_depth","depth":$depth,"n":$n,"serve_sec":${Bench.fmt3(sec)},"recall10":$rec}""")
        System.out.flush()
      }
    }

    if (want("appendrouting")) {
      // the flat-append fix at scale: past 64 cells (this corpus builds
      // 360+) a pre-fix append routed two-level onto a flat-built
      // store, parking appended family members in cells the flat query
      // probe never reads. Build on 90% of the corpus, append the
      // last 10% against the frozen centroids, and measure recall on
      // the standard query set: parity with the all-at-once build
      // (tier_sq8_residual, same coding) means appends routed flat.
      val qPred = col("vec_id") >= 1000 && col("vec_id") < 1050
      val exact = Similarity.bruteForceTopK(emb, qPred, 10).persist()
      exact.count() // one oracle evaluation, shared by both recall reads
      val qT = emb.where(qPred)
      val path = s"$root/appendrouting"
      Index.saveIvfSq(emb.where(pmod(col("vec_id"), lit(10)) =!= 9), path,
        forceFlat = true, residual = true)
      val ta = System.nanoTime()
      Index.appendIvfSq(spark, path,
        emb.where(pmod(col("vec_id"), lit(10)) === 9))
      val appendSec = (System.nanoTime() - ta) / 1e9
      val rec = Similarity.recallOf(exact,
        Index.ivfSqTopKIndexed(spark, path, qT, k = 10), 10)
        .head().getDouble(0)
      println(s"""{"stage":"appendrouting","n":$n,"append_sec":${Bench.fmt3(appendSec)},"recall10":$rec}""")
      System.out.flush()
    }

    if (want("rebuildcoding")) {
      // THE ROUND-12 RECALL CLIFF, CLOSED AT SCALE: rebuild used to
      // re-save with absolute-seeded defaults — measured ~0.07 ADC on
      // this corpus (the tier_pq row) — and with default two-level
      // assignment, which routes whole families off-macro past 64
      // cells (measured 0.0, SCALING.md round 12). Now the markers
      // carry coding AND assignment mode, and rebuild re-saves with
      // both. Build the deployment-grade store (trained residual PQ,
      // flat assignment, raw flavor for refine), serve, mutate
      // (delete a slice — the rebuild consumes the tombstones), run
      // the exact rebuild maintain's cron issues, serve again: ADC and
      // rerank recall must hold at residual grade.
      val qPred = col("vec_id") >= 1000 && col("vec_id") < 1050
      val qT = emb.where(qPred)
      val path = s"$root/rebuildcoding"
      val tb = System.nanoTime()
      Index.saveIvfPq(emb, path, trained = true, residual = true,
        withRaw = true, forceFlat = true)
      val buildSec = (System.nanoTime() - tb) / 1e9
      // recall ground truth excludes the slice the mutation deletes,
      // so before/after are measured against the same served corpus
      val dropped = pmod(col("vec_id"), lit(97)) === 13 && !qPred
      val survivors = emb.where(!dropped)
      val exact = Similarity.bruteForceTopK(survivors, qPred, 10).persist()
      exact.count() // one oracle evaluation, not one per recallOf call
      def recallOf(df: DataFrame): Double =
        Similarity.recallOf(exact, df, 10).head().getDouble(0)
      Index.delete(spark, path, emb.where(dropped).select("vec_id"))
      val adcBefore = recallOf(
        Index.ivfPqTopKIndexed(spark, path, qT, k = 10))
      val rrBefore = recallOf(
        Index.ivfPqRerankTopKIndexed(spark, path, qT, k = 10, rerank = 40))
      println(s"""{"stage":"rebuildcoding_before","n":$n,"build_sec":${Bench.fmt3(buildSec)},"adc_recall10":$adcBefore,"rerank_recall10":$rrBefore}""")
      System.out.flush()
      val tr = System.nanoTime()
      Index.rebuild(spark, path)
      val rebuildSec = (System.nanoTime() - tr) / 1e9
      val adcAfter = recallOf(
        Index.ivfPqTopKIndexed(spark, path, qT, k = 10))
      val rrAfter = recallOf(
        Index.ivfPqRerankTopKIndexed(spark, path, qT, k = 10, rerank = 40))
      val residualKept = Index.isResidual(spark, path)
      // the retention flag's tolerance is STATED in the artifact (the
      // r14 row called a -6.4% relative rerank dip "retained" with no
      // visible threshold): recall may move +-tol absolute across a
      // re-grid — fresh autoCells centroids legitimately change probe
      // geometry — and anything past it must read false, loudly
      val retTol = 0.05
      println(s"""{"stage":"rebuildcoding_verdict","n":$n,"rebuild_sec":${Bench.fmt3(rebuildSec)},"adc_before":$adcBefore,"adc_after":$adcAfter,"rerank_before":$rrBefore,"rerank_after":$rrAfter,"adc_delta":${Bench.fmt3(adcAfter - adcBefore)},"rerank_delta":${Bench.fmt3(rrAfter - rrBefore)},"retention_tolerance":$retTol,"residual_preserved":$residualKept,"recall_retained":${adcAfter >= adcBefore - retTol && rrAfter >= rrBefore - retTol}}""")
      System.out.flush()
    }

    if (!want("serve")) { spark.stop(); return }

    // one-time build+write (timed once — a build is not a steady state)
    val ivfPath = s"$root/ivf"
    val t0 = System.nanoTime()
    Index.saveIvf(emb, ivfPath)
    val buildIvf = (System.nanoTime() - t0) / 1e9
    val ivfBytes = dirBytes(s"$ivfPath/postings")
    println(s"""{"stage":"ivf_build_write","sec":${Bench.fmt3(buildIvf)},"n":$n,"store_bytes":$ivfBytes}""")

    val pqPath = s"$root/ivfpq"
    val t1 = System.nanoTime()
    Index.saveIvfPq(emb, pqPath)
    val buildPq = (System.nanoTime() - t1) / 1e9
    val pqBytes = dirBytes(s"$pqPath/pq_codes")
    println(s"""{"stage":"ivfpq_build_write","sec":${Bench.fmt3(buildPq)},"n":$n,"store_bytes":$pqBytes}""")

    val nCells = spark.read.parquet(s"$ivfPath/centroids").count()
    for ((tag, q, isQ) <- Seq(
        ("q50", q50, Similarity.sampledIsQuery),
        ("q5", q5, col("vec_id") < 5))) {
      val probed = Index.probeCells(spark, ivfPath, q, nProbe = 4).length
      val cellsNote = s""","probed_cells":$probed,"total_cells":$nCells"""
      timed(s"ivf_inline_$tag")(Similarity.ivfTopK(emb, isQ, k = 10))
      timed(s"ivf_serve_$tag", cellsNote)(
        Index.ivfTopKIndexed(spark, ivfPath, q, k = 10))
      timed(s"ivfpq_inline_$tag")(Similarity.ivfPqTopK(emb, isQ, k = 10))
      timed(s"ivfpq_serve_$tag", cellsNote)(
        Index.ivfPqTopKIndexed(spark, pqPath, q, k = 10))
    }
    spark.stop()
  }
}
