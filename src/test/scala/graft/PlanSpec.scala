package graft

import org.apache.spark.sql.functions.col

/** Physical-plan regression guards for the scale-critical shapes: these
  * fail loudly if a future change reintroduces a known scale-killer.
  */
class PlanSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("parquet scans push filters and prune columns (q01)") {
    val p = plan("q01_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_comment")) // untouched wide column never read
  }

  test("rebin has no nested-loop join (closed-form bin mapping)") {
    // the old design joined every input row against the counter's whole
    // grid; the closed-form rewrite must keep joins hash/broadcast-based
    val p = plan("trend_rebin")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("rebin scans its input once and exchanges once, without a join") {
    // the extent window, the (counter, bin) aggregation and the zero-trim
    // windows all ride one hash partitioning of the raw rows by counter;
    // a second exchange, a join or a second scan means the extent or the
    // grid went back to being computed beside the input
    val p = plan("trend_rebin")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, s"expected one exchange:\n$p")
    assert(!p.contains("Join") && !p.contains("BroadcastExchange"), s"rebin joins:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1, s"expected one input scan:\n$p")
  }

  test("linReg computes each regression aggregate once, in the Window") {
    // the slope is materialized once; repeated through when() and trim2
    // each copy of the window aggregates ran again in the WindowExec
    for (q <- Seq("trend_linreg", "trend_linreg_windowed"); f <- Seq("covar_pop", "var_pop")) {
      val p = plan(q)
      val hits = p.split("\n").toSeq.flatMap(l => s"\\b$f\\(".r.findAllIn(l).map(_ => l))
      assert(hits.size == 1 && hits.head.contains("Window ["),
        s"$q: expected one $f in the Window:\n$p")
    }
  }

  test("dedup candidate generators stay free of cross joins") {
    for (q <- Seq("dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested loop join")
    }
  }

  test("containment stays on the df-capped inverted index — no cross joins") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct"), "containment has a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "containment has a nested loop")
  }

  test("keepBest elects keepers with one cluster window, no pair replay") {
    // clusters come off the checkpointed component labels; the election
    // must be the ONE row_number window on cluster_id — a second window
    // or a nested-loop join means the pair graph is being recomputed
    val p = plan("dedup_keep_best")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert("\\bWindow \\[".r.findAllIn(p).size === 1,
      s"expected exactly one window operator:\n$p")
  }

  test("topic balance rides the broadcast-centroid scan — no join for cells") {
    val p = plan("cur_topic_balance")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("SortMergeJoin"), "cell assignment must not join")
  }

  test("curriculum broadcasts the offset rollup — no doc-wide global sort") {
    val p = plan("cur_curriculum")
    // the dense global order must come from bounded (phase, shard)
    // windows plus a broadcast of the tiny offset relation — a plain
    // shuffle join here means the offsets grew data-proportional
    assert(p.contains("BroadcastExchange"), "offset rollup not broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("split-leakage rollup aggregates map-side before the cluster shuffle") {
    val p = plan("cur_split_leakage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // partial + final HashAggregate pair on the cluster_id rollup
    assert("HashAggregate".r.findAllIn(p).size >= 2, "rollup not map-side combined")
  }

  test("argmax executes as TakeOrderedAndProject, not a full sort") {
    assert(plan("trend_argmax").contains("TakeOrderedAndProject"))
  }

  test("allowlist gate is a broadcast semi join") {
    val p = plan("trend_rebin_allowlist")
    assert(p.contains("LeftSemi"))
    // must stay a BROADCAST semi join — a shuffle-based semi join over the
    // fact side is exactly the regression this suite exists to block
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
  }

  test("decontamination joins the benchmark shingle set by broadcast") {
    // the corpus side must stream map-side against the (tiny) benchmark
    // set; a shuffle join here would shuffle every (doc, shingle) pair
    val p = plan("cur_decontaminate")
    assert(p.contains("BroadcastExchange"), "benchmark set not broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("stratified sample is a pure scan — no join, no shuffle aggregation") {
    val p = plan("cur_stratified_sample")
    assert(!p.contains("Join"), "rate lookup must compile to a CASE chain")
    assert(!p.contains("Exchange"), "sampling must not shuffle")
  }

  test("embedding quantization is a pure scan — no shuffle") {
    val p = plan("ann_quantize")
    assert(!p.contains("Exchange"), "quantization must stay map-side")
  }

  test("sequence packing windows by shard, never a single global sort") {
    val p = plan("cur_pack")
    // a Window with an empty partition spec would serialize the corpus
    // through one task — the Window node must list shard in its partition
    // spec ("Window [aggs], [shard#N], [order]") and the plan must not
    // fall back to a single partition
    assert("""Window \[[^]]*\], \[shard#\d+""".r.findFirstIn(p).isDefined,
      "Window is not partitioned by shard")
    assert(!p.contains("SinglePartition"))
  }

  test("range join compiles to an equi join, as-of to a joinless window") {
    val rj = plan("evt_range_join")
    assert(!rj.contains("CartesianProduct") &&
      !rj.contains("BroadcastNestedLoopJoin"),
      "interval join degraded to a nested loop")
    assert(!plan("evt_asof").contains("Join"),
      "as-of must stay a windowed scan, not a join")
  }

  test("sessionize runs on a single shuffle of the fact table") {
    // window + final aggregation must share HashPartitioning(user_id)
    assert("Exchange".r.findAllIn(plan("evt_sessionize")).size == 1)
  }

  test("redaction is a pure scan — no shuffle, no UDF") {
    val p = plan("cur_redact")
    assert(!p.contains("Exchange") && !p.contains("BatchEvalPython"))
  }

  test("chunking is a pure explode — no shuffle, no join") {
    val p = plan("cur_chunk")
    assert(!p.contains("Exchange"), "chunking must stay map-side")
    assert(!p.contains("Join"))
  }

  test("semantic dedup joins within cells — no all-pairs stage") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "cell self-join degraded to an all-pairs nested loop")
  }

  test("vocabulary joins back by broadcast; top-V is a TakeOrdered") {
    val p = plan("cur_vocab_oov")
    // the constant-size vocabulary must broadcast against the token
    // table — a shuffle join would repartition every token occurrence
    assert(p.contains("BroadcastExchange"), "vocab not broadcast")
    // and the top-V selection must be a distributed TakeOrdered, never a
    // single-partition global sort of the word counts
    assert(p.contains("TakeOrderedAndProject"), "top-V is not TakeOrdered")
  }

  test("ngram coverage never materializes pairs — only key-partitioned ops") {
    val p = plan("dedup_ngram_coverage")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("pq encoding is a broadcast scan — no shuffle") {
    assert(!plan("ann_pq_codes").contains("Exchange"),
      "PQ assignment must stay map-side (codebooks are broadcast)")
  }

  test("json props rollup is one aggregation over a pure extraction scan") {
    // one shuffle for the groupBy; extraction itself must not add more
    assert("Exchange".r.findAllIn(plan("evt_props_agg")).size == 1)
  }

  test("span coverage windows by doc, never a single partition") {
    val p = plan("dedup_span_coverage")
    assert("""Window \[[^]]*\], \[doc_id#\d+""".r.findFirstIn(p).isDefined,
      "interval-merge window is not partitioned by doc_id")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("banded fingerprint joins stay free of nested loops") {
    for (q <- Seq("mm_phash_pairs", "mm_audio_fp_pairs", "dedup_editdist")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested loop join")
    }
  }

  test("ANN scorers fold vectors natively — no interpreted lambda fold") {
    // the dot products must be the codegen'd dot_fold expression, not
    // aggregate/zip_with (interpreted per element, blocks codegen)
    for (q <- Seq("ann_brute_topk", "ann_lsh_topk", "ann_ivf_topk")) {
      val p = plan(q)
      assert(p.contains("dot_fold"), s"$q lost the native fold")
      assert(!p.contains("aggregate("), s"$q fell back to the lambda fold")
    }
  }

  test("ivfpq rerank refines with the native fold and no cartesian") {
    // the refine stage joins the shortlist to full vectors by equi-key
    // (vec_id) and scores with the codegen'd dot_fold; the only
    // nested-loop in the plan is the constant-size (nSub·nCode-row)
    // broadcast LUT cross join inherited from the ADC stage
    val p = plan("ann_ivfpq_rerank")
    assert(p.contains("dot_fold"), "refine lost the native fold")
    assert(!p.contains("CartesianProduct"), "non-broadcast cartesian in rerank")
  }

  test("zorder keys are a pure scan — no shuffle, no join") {
    val p = plan("layout_zorder")
    assert(!p.contains("Exchange") && !p.contains("Join"))
  }

  test("shuffle-shard is one hash shuffle + per-shard window") {
    val p = plan("cur_shuffle_shard")
    assert("""Window \[[^]]*\], \[shard#\d+""".r.findFirstIn(p).isDefined,
      "position window is not partitioned by shard")
    assert(!p.contains("SinglePartition"))
  }

  test("rebalance weights join back by broadcast") {
    // one row per source: the weight relation must broadcast, the doc
    // side must not shuffle for the join
    val p = plan("cur_rebalance")
    assert(p.contains("BroadcastHashJoin"), "weight join is not broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("incremental dedup is a key-partitioned anti join — no text reshuffle") {
    val p = plan("dedup_incremental")
    assert(p.contains("LeftAnti"), "snapshot gate must be an anti join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // only the 16-byte content key crosses the wire — the exchanged
    // attributes must not include the text column
    assert(!"""Exchange hashpartitioning\([^)]*text""".r.findFirstIn(p).isDefined,
      "anti join shuffles document text")
  }

  test("ivf assignment is a scan against closure centroids — no join, no shuffle") {
    // the coarse-quantizer build (flat OR two-level — the super-quantizer
    // is driver-side arithmetic on the already-collected centroid set):
    // one pass over the corpus, centroids in the udf closure, nothing
    // exchanged. A join or exchange here means the index build started
    // shuffling the corpus.
    for (q <- Seq("ann_ivf_assign", "ann_ivf_assign_flat")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q joins during assignment")
      assert(!p.contains("Exchange"), s"$q shuffles during assignment")
    }
    // the agreement A/B joins the two assignment tables by vec_id only —
    // hash join, never a nested loop
    val pa = plan("ann_ivf_assign_agree")
    assert(!pa.contains("CartesianProduct") &&
      !pa.contains("BroadcastNestedLoopJoin"))
  }

  test("kmeans assignment is a scan against broadcast centroids — no join") {
    // the Lloyd output plan: quantize scan + assignment projection; the
    // centroid table must live in the closure (driver-collected, k·dim
    // longs), never as a join relation
    val p = plan("ann_kmeans")
    assert(!p.contains("Join"), "kmeans assignment must not join")
    assert(!p.contains("CartesianProduct"))
  }

  test("attribution is an equi hash/merge join, never a nested loop") {
    // the time predicate must ride INSIDE the equi join; losing the equi
    // key would turn this into a per-pair nested loop
    val p = plan("evt_attribution")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no hash/merge join in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // the TIME BUCKET must be part of the join key, not a post-filter:
    // user_id alone leaves per-key pair space quadratic in account
    // history (measured 4× super-linear on whale keys — SCALING.md)
    assert("""\[(bk|user_id)#\d+L?, (bk|user_id)#\d+L?\]""".r.findFirstIn(p).isDefined
      || p.contains("bk"), s"bucket key missing from join in:\n$p")
  }

  test("bucketed-table join runs with ZERO shuffle exchanges (co-location)") {
    // layout_bucketed_join writes both sides bucketBy(user_id) — the
    // whole point is that the join inherits the bucketed distribution.
    // At sf0.001 the planner correctly prefers a broadcast (and disables
    // bucketed reads), which would hide the property — so the pin forces
    // the shuffle path: with broadcasts off, a working bucketed layout
    // joins with NO hash-partitioning Exchange; a broken one must
    // shuffle both sides.
    val conf = spark.conf
    val old = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("layout_bucketed_join")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join reintroduced a shuffle:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a merge/hash join over bucketed scans:\n$p")
      assert(p.contains("Bucketed: true"), s"bucketed read not used:\n$p")
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("bpe encode joins the symbol table by key — no cartesian, no replay") {
    val p = plan("cur_bpe_encode")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // per-doc counts must come from ONE aggregation over the word join
    assert(p.contains("HashAggregate"), "missing hash aggregation")
  }

  test("scalar-subquery threshold broadcasts the 1-row aggregate") {
    val p = plan("q13_scalar_subq")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "cutoff relation must broadcast")
    // the big side must not shuffle for the comparison
    assert(!"""Exchange hashpartitioning\([^)]*o_orderkey""".r.findFirstIn(p).isDefined)
  }

  test("count-min shares one wordcount; cell probe broadcasts") {
    val p = plan("text_count_min")
    // the depth×width cell relation (≤ 4096 rows) must broadcast back to
    // the heavy-word probe — a shuffle join here would repartition the
    // probe for a constant-size build side
    assert(p.contains("BroadcastHashJoin"), s"cell probe not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the vocab wordcount feeds three consumers — it must be materialized
    // once (checkpoint scan), not re-aggregated from the corpus per use
    assert(!p.contains("explode(split(text"),
      s"corpus re-scanned instead of reusing the wordcount:\n$p")
  }

  test("incremental LSH stays banded — no cartesian, no nested loop") {
    // all three joins (index probe, within-batch self-join, exact
    // verify) must remain equi joins on band/doc keys
    val p = plan("dedup_minhash_incremental")
    assert(!p.contains("CartesianProduct"), s"cartesian in incremental LSH:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"NLJ in incremental LSH:\n$p")
  }

  test("quota sample broadcasts the per-source allocation") {
    // the quota relation is one row per source; the corpus join must be
    // a broadcast and the rank window must partition by source
    val p = plan("cur_quota_sample")
    assert(p.contains("BroadcastHashJoin"), s"quota join not broadcast:\n$p")
    // partition key is windowspecdefinition's first argument
    assert("""windowspecdefinition\(source#\d+,""".r.findFirstIn(p).isDefined,
      s"rank window not partitioned by source:\n$p")
    // (the 1-row aggregate crossJoins compile to 1-row BNLJs — accepted
    // pattern; only a true cartesian over data-sized inputs is banned)
    assert(!p.contains("CartesianProduct"))
  }

  test("kNN family candidates stay equi-joined — no cartesian; drift and incremental assign never join") {
    for (q <- Seq("ann_knn_classify_ivf", "ann_label_consistency",
                  "cur_pipeline6", "ann_hard_negatives_ivf")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      // cur_pipeline6 carries ONE BroadcastNestedLoopJoin by design: the
      // 1-row n_min aggregate broadcast against the survivors (the
      // scalar-subquery shape pinned above); anything more is a defect
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      val allowed = if (q == "cur_pipeline6") 1 else 0
      assert(bnlj <= allowed, s"$q has $bnlj nested-loop joins (> $allowed)")
    }
    // the refresh paths are scans against broadcast state: any Join node
    // means the standing corpus got dragged into the per-row path
    for (q <- Seq("ann_ivf_incremental", "ann_snapshot_drift")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q joins where a scan was promised")
    }
  }

  test("bm25 posting join is broadcast — query-side relations never shuffle the corpus") {
    for (q <- Seq("ret_bm25_eval", "ret_bm25_seeds", "cur_pipeline7")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      // every corpus-touching join must build its hash side from the
      // broadcast query relations; a SortMergeJoin would mean the posting
      // stream is being shuffled against a corpus-sized right side
      assert(!p.contains("SortMergeJoin"), s"$q shuffles a join side:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q lost the broadcast posting join")
    }
  }

  test("selection signals are single-stream: dsir joins by 8-byte key, dist-shift by broadcast vocab") {
    val dsir = plan("cur_dsir_weights")
    assert(!dsir.contains("CartesianProduct"))
    val ds = plan("cur_dist_shift")
    assert(!ds.contains("CartesianProduct"))
    assert(ds.contains("BroadcastHashJoin"), "capped vocab not broadcast")
    // length buckets: one scan into an aggregate — no join at all
    val lb = plan("cur_length_buckets")
    assert(!lb.contains("Join"), s"lengthBuckets joins:\n$lb")
  }

  test("pca projection is a literal-vector scan; transitions reuse one user shuffle") {
    // after the driver-side power iteration, the projection pass must be
    // joinless (u is a literal) — any Join means the component table
    // leaked into the per-row path
    val pp = plan("ann_pca_project")
    assert(!pp.contains("Join"), s"pcaProject joins where a scan was promised:\n$pp")
    val tt = plan("evt_type_transitions")
    assert(!tt.contains("Join"))
    // lead window and the pair aggregate must not add a second
    // corpus-sized exchange beyond the user_id partitioning + the
    // constant-size |types|^2 rollup
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(tt).length == 1,
      s"transitions re-shuffle the fact table:\n$tt")
  }

  test("hybrid RRF fuses two k-bounded lists — no cartesian; fusion join is hash-equi") {
    val p = plan("ret_hybrid_rrf")
    assert(!p.contains("CartesianProduct"), s"hybrid fusion has a cartesian:\n$p")
    // the BM25 component legitimately BNL-joins its 1-ROW stats relation
    // (avgdl — the q13 scalar-broadcast pattern); the FUSION itself must
    // be the equi join of the two rank lists: a SortMergeJoin/ShuffledHash
    // FullOuter on (query_id, cand_id)
    assert(p.contains("FullOuter"), s"fusion join missing:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin BuildRight, FullOuter") &&
      !p.contains("BroadcastNestedLoopJoin BuildLeft, FullOuter"),
      s"fusion degraded to a nested loop:\n$p")
  }

  test("LR scoring is a joinless literal-weight scan") {
    // after training, the 5 weights are literals — the scoring pass must
    // never join a weight table into the per-row path
    val p = plan("cur_quality_lr_scores")
    assert(!p.contains("Join"), s"LR scoring joins where a scan was promised:\n$p")
  }

  test("persisted-index serves scan only probed cell partitions") {
    // every serve flavor must carry a partition filter on cell: reading
    // every cell directory would be a full-store scan per query batch.
    // The deleted/upsert forms pin that the tombstone ANTI-JOIN sits
    // ABOVE the pruned scan without displacing the partition filter —
    // masking must not cost the prune
    for (q <- Seq("ann_ivf_persisted", "ann_ivfpq_persisted", "ann_ivf_append",
                  "ann_ivfpq_append", "ann_ivf_filtered",
                  "ann_ivfpq_filtered",
                  "ann_ivf_sq_persisted", "ann_ivf_sq_append",
                  "ann_ivf_deleted", "ann_ivfpq_deleted", "ann_ivf_sq_deleted",
                  "ann_ivf_upsert", "ann_ivf_sq_rerank",
                  "ann_ivf_filtered_deleted", "ann_matryoshka_topk")) {
      val p = plan(q)
      assert(p.contains("PartitionFilters") && p.contains("cell#"),
        s"$q: no partition filter on the store scan:\n$p")
    }
    // the MRL shortlist's whole point is byte cut: its codes scan must
    // read the prefix columns, never the full-width vector (the refine
    // reads `v` from the separate postings scan — that one is pruned to
    // the same probed cells, asserted above). The mrl scan is the one
    // whose ReadSchema carries the prefix-norm column `vpn`.
    locally {
      val p = plan("ann_matryoshka_topk")
      val mrlSchemas = p.split("\n").filter(l =>
        l.contains("ReadSchema") && l.contains("vpn"))
      assert(mrlSchemas.nonEmpty, s"no mrl_codes scan in the plan:\n$p")
      assert(mrlSchemas.forall(l =>
          l.contains("vp:") && !l.contains("v:") && !l.contains("norm:")),
        s"MRL shortlist scan reads more than the prefix columns:\n$p")
    }
    // the QUANTIZED MRL shortlist's byte cut is even deeper: its codes
    // scan must read only the packed int8 prefix (qb binary) + rescale
    // factor, never a raw double array of any width. The quantized scan
    // is the one whose ReadSchema carries qb next to cell.
    locally {
      val p = plan("ann_matryoshka_sq_topk")
      assert(p.contains("PartitionFilters") && p.contains("cell#"),
        s"ann_matryoshka_sq_topk: no partition filter on the store scan:\n$p")
      val qSchemas = p.split("\n").filter(l =>
        l.contains("ReadSchema") && l.contains("qb:"))
      assert(qSchemas.nonEmpty, s"no quantized mrl_codes scan in the plan:\n$p")
      assert(qSchemas.forall(l =>
          l.contains("r:") && !l.contains("vp:") && !l.contains("v:") &&
            !l.contains("norm:")),
        s"quantized MRL shortlist scan reads more than qb/r:\n$p")
    }
  }

  test("filtered serve pushes the metadata predicate into the store scan") {
    // both cuts must land in the SCAN: partition prune on cell (probe
    // list) and the label predicate as a pushed parquet filter — a
    // post-join label filter would materialize every candidate first
    for (q <- Seq("ann_ivf_filtered", "ann_ivfpq_filtered",
                  "ann_ivf_filtered_deleted")) {
      val p = plan(q)
      assert(p.contains("PushedFilters") &&
        p.matches("(?s).*PushedFilters: \\[[^\\]]*label[^\\]]*\\].*"),
        s"$q: label predicate not pushed into the store scan:\n$p")
    }
  }

  test("time-travel serve pushes the sequence bound into the store scan") {
    // the asOfSeq bound must cost nothing beyond the plain serve: the
    // candidate cut is a pushed parquet filter on ins_seq (written as
    // LessThanOrEqual-or-IsNull precisely because a coalesce() form is
    // not convertible) landing NEXT TO the probed-cell partition prune
    for (q <- Seq("ann_time_travel", "ann_time_travel_sq")) {
      val p = plan(q)
      assert(p.contains("PartitionFilters") && p.contains("cell#"),
        s"$q: no cell partition filter on the travelled store scan:\n$p")
      assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*ins_seq[^\\]]*\\].*"),
        s"$q: ins_seq bound not pushed into the store scan:\n$p")
    }
  }

  test("lexical-index serves prune to seed buckets and push the term filter") {
    // the persisted BM25 serve must carry BOTH scan cuts: a partition
    // filter on bucket (the seed-term bucket list — reading every bucket
    // directory would be a full-index scan per seed batch) and the term
    // hash list as a pushed parquet filter (row-group stats inside the
    // probed buckets; postings are th-sorted within each file)
    for (q <- Seq("ret_bm25_persisted", "ret_bm25_appended",
                  "ret_hybrid_rrf")) {
      val p = plan(q)
      assert(p.contains("PartitionFilters") && p.contains("bucket#"),
        s"$q: no bucket partition filter on the postings scan:\n$p")
      assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(th[^\\]]*\\].*"),
        s"$q: term-hash filter not pushed into the postings scan:\n$p")
    }
    // the hybrid's dense leg stays probed-cell-pruned too
    assert(plan("ret_hybrid_rrf").contains("cell#"),
      "ret_hybrid_rrf: dense leg lost its cell partition prune")
  }

  test("filtered lexical serve pushes the metadata predicate into the postings scan") {
    // candWhere over the denormalized metadata column must land in the
    // parquet scan NEXT TO the bucket prune and the term row-group cut —
    // a post-join filter would materialize every matching-term posting
    // before cutting by language
    // the default 100-char metadata render truncates the PushedFilters
    // list right after the (long) term-hash In — widen it so the lang
    // entry is visible to the string pin
    spark.conf.set("spark.sql.maxMetadataStringLength", 100000)
    try {
      val p = plan("ret_bm25_filtered")
      assert(p.contains("PartitionFilters") && p.contains("bucket#"),
        s"ret_bm25_filtered: no bucket partition filter:\n$p")
      // `In(lang, ...)` is the SOURCE-filter rendering (the post-scan
      // Filter spells it `lang# IN (...)`), so its presence pins pushdown
      assert(p.contains("In(lang"),
        s"ret_bm25_filtered: lang predicate not pushed into the scan:\n$p")
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", 100)
  }
}
