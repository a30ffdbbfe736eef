package graft.ml

import graft.ml.Ckpt.CutOps
import graft.functions.{VecFold, VecQuant}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]` → cast to double) — the similarity-search leg of the
  * training-data-pipeline surface (BASELINE.json north star; promised by
  * Dedup.embeddingCosine's scale note).
  *
  * Two entry points with identical output schema
  * (query_id, neighbor_id, cosine, rank):
  *
  *  - [[bruteForceTopK]]: exact top-k — the query set joins the full
  *    corpus (no explicit broadcast hint: the query relation is
  *    query-proportional, so AQE broadcasts it when it is actually small
  *    instead of a hint forcing an OOM on a huge query set); two-phase
  *    ranking so no single partition ever holds a whole query's
  *    corpus-sized candidate list.
  *  - [[lshTopK]]: random-hyperplane LSH — corpus is bucketed by banded
  *    sign signatures (one linear pass), candidates = vectors sharing at
  *    least one band bucket with the query, cosine-verified within
  *    candidates only. At 100 TB the per-band bucket join replaces the
  *    corpus-wide cross join; recall < 1 by design.
  *
  * The hyperplanes are pseudo-random but deterministic: weights derive
  * from md5 of "plane:dim" computed driver-side and embedded as literals
  * in both the Spark plan and the DuckDB oracle SQL, so results are
  * bit-reproducible across engines (dot products are strict left-to-right
  * folds on both sides).
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane weight in [-1000, 1000]. */
  private[ml] def planeWeight(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p:$d".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    (java.lang.Long.parseLong(hex.take(15), 16) % 2001 - 1000).toDouble
  }

  private[ml] def planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map(p => (0 until dim).map(d => planeWeight(p, d)))

  /** Strict left-to-right fold dot product (deterministic IEEE order) —
    * a codegen'd native expression (see [[graft.functions.VecFold]]): the
    * interpreted `aggregate(zip_with(...))` fold it replaces was the
    * per-candidate cost of every ANN scorer.
    */
  private def dot(a: Column, b: Column): Column = VecFold.dot(a, b)

  /** Cosine with the zero-vector convention pinned (round-8's int8TopK
    * convention, swept across every entry point in round 9): a zero norm
    * on either side scores 0 — dot(0, x) = 0, and "similar to nothing" is
    * the only ranking-safe reading. An unguarded division yields NaN, and
    * Spark (and DuckDB) order NaN ABOVE every real cosine — a single
    * all-zero embedding would rank FIRST for every query. Oracle SQL
    * builders mirror the same CASE (see [[safeCosineSql]]).
    */
  private[ml] def safeCosine(d: Column, na: Column, nb: Column): Column =
    when(na * nb === 0d, lit(0.0)).otherwise(d / (na * nb))

  /** The DuckDB mirror of [[safeCosine]]. */
  private[ml] def safeCosineSql(d: String, na: String, nb: String): String =
    s"CASE WHEN $na * $nb = 0 THEN 0.0 ELSE $d / ($na * $nb) END"

  private[ml] def normed(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(VecFold.dot(col("v"), col("v"))))

  /** Two-phase top-k per query: rank within a salt bucket first (bounded
    * partitions), then globally among the <= 64·k survivors. Identical
    * result to a single global rank, but the corpus-sized sort is
    * distributed over 64 buckets per query. `order` ranks the rows:
    * highest cosine first by default, ties on the smaller neighbor_id.
    * `id` names the candidate column the salt bucket pmod(id, 64) keys on.
    */
  private[ml] def topK(scored: DataFrame, k: Int,
                       order: Seq[Column] = Seq(desc("cosine"), asc("neighbor_id")),
                       id: String = "neighbor_id"): DataFrame = {
    val pre = Window.partitionBy(col("query_id"), pmod(col(id), lit(64)))
      .orderBy(order: _*)
    val fin = Window.partitionBy("query_id").orderBy(order: _*)
    scored
      .withColumn("r1", row_number().over(pre)).where(col("r1") <= k).drop("r1")
      .withColumn("rank", row_number().over(fin)).where(col("rank") <= k)
  }

  /** Exact cosine top-k for every vector selected by `isQuery`. */
  def bruteForceTopK(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val e = normed(emb)
    val q = e.where(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val scored = e.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(safeCosine(dot(col("v"), col("qv")), col("norm"), col("qnorm")), 6).as("cosine"))
    topK(scored, k).select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Symmetric int8 quantization of the embedding column — the storage
    * path of a vector pipeline (4× smaller than float32, dot products
    * stay sign-correct). Per vector: scale = max |x|; q_i = round-half-up
    * of x_i·127/scale (floor(z + 0.5), written identically in the oracle
    * so no engine rounding-mode difference can leak in). Long-form
    * output (vec_id, i, q, scale6) keeps the compare columnar. One
    * linear scan + explode, no shuffle.
    */
  def quantize(emb: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    emb.select(col("vec_id"), v.as("v"))
      .withColumn("scale", VecQuant.maxAbs(col("v")))
      .select(col("vec_id"), col("scale"),
        posexplode(col("v")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i").cast("long").as("i"),
        floor(col("x") * 127.0 / col("scale") + 0.5).cast("long").as("q"),
        round(col("scale"), 6).as("scale6"))
  }

  def quantizeOracleSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS scale
       |  FROM embeddings)
       |SELECT vec_id, (i - 1)::BIGINT AS i,
       |       floor(v[i] * 127.0 / scale + 0.5)::BIGINT AS q,
       |       round(scale, 6) AS scale6
       |FROM e, unnest(range(1, len(v) + 1)) AS r(i)""".stripMargin

  /** Recall@k of an approximate ranking against the exact brute-force
    * one — the evaluation metric an ANN deployment reports. Per query:
    * fraction of the true top-k found; output is the average over
    * queries (one row), 6 dp. Integer intersection counts make it
    * accumulation-order independent.
    */
  private[ml] def recallVs(exactTopK: DataFrame, approxTopK: DataFrame,
                       k: Int): DataFrame = {
    val exact = exactTopK.select("query_id", "neighbor_id")
    val approx = approxTopK.select(
      col("query_id").as("aq"), col("neighbor_id").as("an"))
    val hits = exact.join(approx,
        col("query_id") === col("aq") && col("neighbor_id") === col("an"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    // denominator = what the exact side actually HAS for that query,
    // capped at k: for the ANN recalls the exact top-k always holds k
    // rows, but a filtered exact set (hard-negative mining on a label
    // that covers most of the corpus) can hold fewer — dividing by a
    // fixed k would cap such queries below 1.0 even on a perfect match
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .agg(round(avg(coalesce(col("n_hit"), lit(0L)) /
          least(col("n_exact"), lit(k.toLong))), 6)
        .as("recall_at_k"))
  }

  def lshRecall(emb: DataFrame, isQuery: Column, k: Int): DataFrame =
    recallVs(bruteForceTopK(emb, isQuery, k), lshTopK(emb, isQuery, k), k)

  def ivfRecall(emb: DataFrame, isQuery: Column, k: Int,
                forceFlat: Boolean = false,
                superProbe: Int = defaultSuperProbe): DataFrame =
    recallVs(bruteForceTopK(emb, isQuery, k),
      ivfTopK(emb, isQuery, k, forceFlat = forceFlat, superProbe = superProbe), k)

  /** Bounded-query-set (first 50 base vec_ids — corpus-independent, the
    * [[graft.ml.Retrieval.boundedIsQuery]] convention) sample predicate
    * for recall evals: with the query side FIXED, the brute-force exact
    * side is O(50·n) — LINEAR in the corpus, so this recall runs at any
    * scale. This is the executable form of the "run recalls on a SAMPLE"
    * guidance: the corpus-proportional recall evals stay sf-scale-only.
    */
  val sampledIsQuery: Column = col("vec_id") < 50
  val sampledIsQuerySql: String = "vec_id < 50"

  /** Recall of the compressed-index ranking (IVF-PQ ADC) against the
    * exact one — quantifies what PQ compression costs on top of cell
    * probing, the number an IVF-PQ deployment tunes nProbe/nSub against.
    */
  def ivfPqRecall(emb: DataFrame, isQuery: Column, k: Int): DataFrame =
    recallVs(bruteForceTopK(emb, isQuery, k), ivfPqTopK(emb, isQuery, k), k)

  /** Shared oracle for [[recallVs]]: both args are full SELECTs. */
  private[ml] def recallOracleSql(exactSql: String, approxSql: String, k: Int): String =
    s"""WITH bf AS (SELECT * FROM ($exactSql)),
       |ap AS (SELECT * FROM ($approxSql)),
       |hits AS (
       |  SELECT bf.query_id, count(*) AS n_hit
       |  FROM bf SEMI JOIN ap ON bf.query_id = ap.query_id
       |                      AND bf.neighbor_id = ap.neighbor_id
       |  GROUP BY bf.query_id),
       |qs AS (SELECT query_id, count(*) AS n_exact FROM bf GROUP BY query_id)
       |SELECT round(avg(coalesce(h.n_hit, 0)::DOUBLE / least(qs.n_exact, $k)), 6)
       |       AS recall_at_k
       |FROM qs LEFT JOIN hits h USING (query_id)""".stripMargin

  def lshRecallOracleSql(k: Int): String =
    recallOracleSql(bruteForceTopKOracleSql(k), lshTopKOracleSql(k), k)

  def ivfRecallOracleSql(k: Int): String =
    recallOracleSql(bruteForceTopKOracleSql(k), ivfTopKOracleSql(k), k)

  def ivfRecallSampledOracleSql(k: Int): String =
    recallOracleSql(
      bruteForceTopKOracleSql(k, isQuerySql = sampledIsQuerySql),
      ivfTopKOracleSql(k, isQuerySql = sampledIsQuerySql), k)

  def ivfPqRecallOracleSql(k: Int): String =
    recallOracleSql(bruteForceTopKOracleSql(k), ivfPqTopKOracleSql(k), k)

  /** Matryoshka (dim-truncation) recall@k: the exact top-k computed on
    * the first `dims` components of every embedding, measured against the
    * exact full-width top-k. This is the evaluation an embedding pipeline
    * runs before storing truncated vectors (MRL-style dimension cuts are
    * the cheapest 2×/4× storage-and-bandwidth win a 100-TB vector corpus
    * can take, IF recall survives — this query is the gate). Same
    * all-pairs eval shape as the other recall metrics: an sf-scale
    * oracle-verified baseline, not a scale path — the scale decision it
    * informs is "which width to store", made once on a sample.
    */
  def matryoshkaRecall(emb: DataFrame, isQuery: Column, k: Int,
                       dims: Int): DataFrame = {
    val truncated = emb.select(col("vec_id"),
      slice(col("embedding"), 1, dims).as("embedding"))
    recallVs(bruteForceTopK(emb, isQuery, k),
      bruteForceTopK(truncated, isQuery, k), k)
  }

  def matryoshkaRecallOracleSql(k: Int, dims: Int): String =
    recallOracleSql(bruteForceTopKOracleSql(k),
      bruteForceTopKOracleSql(k, vecSql = s"(embedding::DOUBLE[])[1:$dims]"), k)

  /** Exact top-k under the int8 STORAGE ranking: neighbors ordered by the
    * symmetric-quantized estimate dot(q_a, q_b)·(scale_b/|b|) — the
    * ranking an int8-only index (the [[quantize]] storage path) actually
    * produces, since the per-query factor scale_a/|a| is rank-invariant.
    * Quantized components are integers carried in doubles, so the dot is
    * an EXACT integer sum in both engines (order-free); the single
    * multiply by the 9-dp-rounded per-neighbor factor is one IEEE op —
    * deterministic ranking, ties on neighbor_id.
    */
  private[ml] def int8TopK(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val e = normed(emb)
      .withColumn("scale", VecQuant.maxAbs(col("v")))
      // a zero vector has scale = norm = 0: dividing by either yields
      // NaN quantization / a NaN factor that poisons its every pair's
      // cosine; substitute scale 1 (q stays all-zero) and factor 0
      // (cosine = 0, the true dot with anything)
      .withColumn("safe_scale",
        when(col("scale") === 0d, lit(1.0)).otherwise(col("scale")))
      .select(col("vec_id"),
        // integer values carried in doubles (≤ 127, exact), so the
        // VecFold dot is order-free
        VecQuant.sqQuant(col("v"), col("safe_scale")).as("q"),
        round(when(col("norm") === 0d, lit(0.0))
          .otherwise(col("scale") / col("norm")), 9).as("r"))
    val q = e.where(isQuery)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val scored = e.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (VecFold.dot(col("q"), col("qq")) * col("r")).as("cosine"))
    topK(scored, k).select("query_id", "neighbor_id", "rank")
  }

  /** Recall@k of the int8-quantized ranking against the float-exact one —
    * the storage-compression eval next to [[matryoshkaRecall]]'s
    * dimension cut: together they price the two cheap 4× reductions a
    * 100-TB vector corpus considers first.
    */
  def int8Recall(emb: DataFrame, isQuery: Column, k: Int): DataFrame =
    recallVs(bruteForceTopK(emb, isQuery, k), int8TopK(emb, isQuery, k), k)

  private def int8TopKOracleSql(k: Int): String =
    s"""WITH e0 AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
       |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS scale
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id,
       |         list_transform(v, x -> floor(x * 127.0 /
       |           (CASE WHEN scale = 0 THEN 1.0 ELSE scale END) + 0.5)) AS q,
       |         round(CASE WHEN norm = 0 THEN 0.0 ELSE scale / norm END, 9) AS r
       |  FROM e0),
       |qs AS (SELECT vec_id AS query_id, q AS qq FROM e WHERE $defaultIsQuerySql),
       |scored AS (
       |  SELECT qs.query_id, e.vec_id AS neighbor_id,
       |         list_dot_product(e.q, qs.qq) * e.r AS cosine
       |  FROM e JOIN qs ON e.vec_id != qs.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= $k""".stripMargin

  def int8RecallOracleSql(k: Int): String =
    recallOracleSql(bruteForceTopKOracleSql(k), int8TopKOracleSql(k), k)

  /** isQuery predicate used by the registered queries: a fixed 2% slice. */
  val defaultIsQuery: Column = pmod(col("vec_id"), lit(50)) === 0

  /** Largest embeddings corpus at which every auto-scaled index parameter
    * still equals its small-corpus floor — i.e. the largest corpus whose
    * results remain comparable to the FIXED-parameter oracle SQL. With
    * the default shapes, [[autoBits]] exceeds floor 4 above 500·2⁴ = 8000
    * vectors (the binding constraint); [[autoCells]] uses floor Long
    * division (n / 5000), so it exceeds floor 16 only at n ≥ 85000
    * (n/5000 ≥ 17). Verify fails auto-parameter queries loudly
    * above this instead of letting the hash compare silently diverge.
    */
  val oracleParamMaxN: Long = 8000L
  // ((x % 50) + 50) % 50 mirrors Spark's pmod: DuckDB % is sign-following,
  // so a negative vec_id would otherwise classify differently per engine
  val defaultIsQuerySql: String = "((vec_id % 50) + 50) % 50 = 0"

  def bruteForceTopKOracleSql(k: Int, dim: Int = 64,
                              isQuerySql: String = defaultIsQuerySql,
                              vecSql: String = "embedding::DOUBLE[]"): String =
    s"""WITH e AS (
       |  SELECT vec_id, $vecSql AS v,
       |         sqrt(list_dot_product($vecSql, $vecSql)) AS norm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM e WHERE $isQuerySql),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |         round(${safeCosineSql(
                  "list_dot_product(e.v, q.qv)", "e.norm", "q.qnorm")}, 6) AS cosine
       |  FROM e JOIN q ON e.vec_id != q.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= $k""".stripMargin

  /** Banded sign-signature table: (vec_id, band, bkey) — `bands` rows per
    * vector, bkey = the `rowsPerBand` sign bits of that band packed into a
    * long. One linear pass over the corpus.
    */
  private def bandTable(e: DataFrame, nPlanes: Int, bands: Int,
                        dim: Int): DataFrame = {
    require(nPlanes % bands == 0)
    val rows = nPlanes / bands
    val pls = planes(nPlanes, dim)
    val bandCols = (0 until bands).map { b =>
      val key = (0 until rows).map { r =>
        val p = b * rows + r
        when(dot(col("v"), typedlit(pls(p))) > 0, lit(1L << r)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), key.as("bkey"))
    }
    e.select(col("vec_id"), col("norm"), col("v"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("vec_id"), col("norm"), col("v"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** LSH-bucketed approximate top-k: candidates share >= 1 band bucket
    * with the query; cosine computed for candidates only. `dim` MUST
    * match the embedding width: the hyperplanes are literal vectors of
    * that length, and a zip_with against a different width would
    * null-pad — the runtime assert turns that silent degeneration (every
    * vector in one bucket → full cross join) into an error.
    */
  /** Bits per band that keep expected bucket occupancy ≈ `target` rows:
    * ceil(log2(n / target)), floored at the small-corpus default so every
    * sf-oracle run is bit-identical to the fixed-parameter shape. A fixed
    * bucket count means bucket SIZE (and so candidates per query) grows
    * linearly with the corpus — the sfL measurement showed exactly that
    * (ann_lsh_topk shuffling 100×-sized buckets); any real LSH deployment
    * widens keys as the corpus grows.
    */
  private[ml] def autoBits(n: Long, floorBits: Int, target: Double = 500.0): Int =
    math.max(floorBits,
      math.ceil(math.log(math.max(1.0, n / target)) / math.log(2.0)).toInt)

  def lshTopK(emb: DataFrame, isQuery: Column, k: Int,
              nPlanes: Int = 16, bands: Int = 4, dim: Int = 64): DataFrame = {
    val checked = normed(emb).withColumn("v",
      when(size(col("v")) === dim, col("v"))
        .otherwise(raise_error(concat(lit(s"lshTopK: embedding dim != $dim: "),
          size(col("v")).cast("string")))))
    // corpus-sized key width: one metadata-only count, then bits/band
    // such that buckets stay ~constant-occupancy at any scale
    val rowsPerBand = autoBits(emb.count(), nPlanes / bands)
    val bt = bandTable(checked, bands * rowsPerBand, bands, dim)
    val qt = bt.where(isQuery)
      .select(col("vec_id").as("query_id"), col("band"), col("bkey"))
    // candidate IDS only through the distinct — dragging the 64-double
    // vector through a candidate-sized shuffle is what failed at 100×;
    // vectors re-attach afterwards by key
    val cand = bt.join(qt, Seq("band", "bkey"))
      .where(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
      .join(checked.select(col("vec_id"), col("v"), col("norm")), "vec_id")
    val q = normed(emb).where(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val scored = cand.join(q, "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(safeCosine(dot(col("v"), col("qv")), col("norm"), col("qnorm")), 6).as("cosine"))
    topK(scored, k).select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** IVF-Flat approximate top-k: a coarse quantizer (the `nCells` corpus
    * vectors with smallest ids — deterministic seed centroids) partitions
    * the corpus into inverted lists by nearest-centroid assignment; each
    * query probes its `nProbe` closest cells and cosine-verifies only
    * those lists. One linear assignment pass over the corpus (centroids
    * broadcast), candidate volume ≈ corpus × nProbe / nCells. Assignment
    * scores are rounded to 9 dp so both engines pick identical cells
    * despite sub-ulp accumulation differences; ties break on cell id.
    */
  /** Flat-scan ceiling for the coarse quantizer: corpora whose
    * [[autoCells]] stays BELOW this keep the exact one-level scan — that
    * includes every oracle-floor run (16/17 cells), so sf-level results
    * are bit-identical to the fixed-parameter DuckDB oracle. At/above it
    * the two-level quantizer activates (see [[withCellRanks]]).
    */
  private[ml] val twoLevelMinCells = 64

  /** Super-cells probed per vector on the two-level path. With nSuper ≈
    * √nCells children per super-cell, cost per vector is
    * nSuper + superProbe·√nCells instead of nCells — at 400 cells
    * (2M-vector corpus) that is 20 + 6·20 = 140 vs 400 dot products.
    */
  private[ml] val defaultSuperProbe = 6

  /** Driver-side super-quantizer over the already-collected centroid set:
    * ⌈√nCells⌉ unit-norm super-centroids (seeded from the smallest-cid
    * centroids, refined by `iters` spherical-k-means rounds, ties to the
    * lower super id) plus the children index (super-cell → centroid
    * positions). O(nCells^1.5 · dim) driver arithmetic on data already in
    * hand — no extra Spark job, no new collect. Deterministic: seeds,
    * assignment ties, and mean updates contain no randomness.
    */
  private[ml] def superQuantizer(cents: Array[(Long, Array[Double], Double)],
                             iters: Int = 3): (Array[Array[Double]], Array[Array[Int]]) = {
    val dim = cents(0)._2.length
    val unit = cents.map { case (_, cv, cn) =>
      val u = new Array[Double](dim)
      var d = 0
      // zero-norm centroid stays the zero vector (dots 0 everywhere, never
      // NaN — a NaN super-centroid would poison every assignment compare)
      while (d < dim) { u(d) = if (cn == 0) 0.0 else cv(d) / cn; d += 1 }
      u
    }
    val nSuper = math.ceil(math.sqrt(cents.length.toDouble)).toInt
    val sup = Array.tabulate(nSuper)(i => unit(i).clone())
    val assign = new Array[Int](cents.length)
    var it = 0
    while (it <= iters) {
      var i = 0
      while (i < unit.length) {
        var best = 0
        var bestS = -2.0
        var s = 0
        while (s < nSuper) {
          var acc = 0.0
          var d = 0
          while (d < dim) { acc += unit(i)(d) * sup(s)(d); d += 1 }
          if (acc > bestS) { bestS = acc; best = s }
          s += 1
        }
        assign(i) = best
        i += 1
      }
      if (it < iters) {
        // spherical mean update; an empty / zero-norm cluster keeps its
        // previous centroid (stays deterministic, never divides by 0)
        val acc = Array.fill(nSuper)(new Array[Double](dim))
        i = 0
        while (i < unit.length) {
          val a = acc(assign(i))
          var d = 0
          while (d < dim) { a(d) += unit(i)(d); d += 1 }
          i += 1
        }
        var s = 0
        while (s < nSuper) {
          var nrm = 0.0
          var d = 0
          while (d < dim) { nrm += acc(s)(d) * acc(s)(d); d += 1 }
          nrm = math.sqrt(nrm)
          if (nrm > 1e-12) {
            d = 0
            while (d < dim) { sup(s)(d) = acc(s)(d) / nrm; d += 1 }
          }
          s += 1
        }
      }
      it += 1
    }
    val children = Array.fill(nSuper)(scala.collection.mutable.ArrayBuffer.empty[Int])
    var i = 0
    while (i < assign.length) { children(assign(i)) += i; i += 1 }
    (sup, children.map(_.toArray))
  }

  /** Adds a `cells` column: the `keep` nearest seed-centroid ids ordered
    * by similarity (9-dp-rounded, tie on cell id) — element 1 is the
    * nearest-centroid assignment. Centroids are the `nCells` smallest-id
    * corpus vectors (deterministic seeds), collected driver-side
    * (constant-bounded) and broadcast.
    *
    * Only the top `keep` ids are RETURNED (assignment needs 1, probing
    * needs nProbe): materializing the full ranking would make the cells
    * column n·nCells·8 bytes — with autoCells that is Θ(n²/target) bytes,
    * petabytes at 1B vectors. Selection is a bounded O(nCells·keep)
    * insertion pass, not a full sort.
    *
    * Assignment compute is TWO-LEVEL once nCells reaches
    * [[twoLevelMinCells]]: each vector ranks the ⌈√nCells⌉ super-centroids
    * (built driver-side by [[superQuantizer]] from the same collected
    * centroid set) and scans only the children of its `superProbe` closest
    * super-cells — nSuper + superProbe·√nCells dot products per vector
    * instead of nCells, the standard hierarchical coarse quantizer (cf.
    * FAISS IVF on an IMI/2-level coarse index). Below the threshold —
    * which includes every oracle-floor corpus — the scan is the exact flat
    * O(n·nCells) pass, bit-identical to the DuckDB oracle. The two-level
    * path is approximate by construction (a nearest centroid whose
    * super-cell is not probed is missed); [[ivfAssignAgreement]] measures
    * that agreement on any corpus, and the scale sweep records it.
    */
  private[ml] def withCellRanks(e: DataFrame, nCells: Int,
                            keep: Int = 1,
                            seedFrom: DataFrame = null,
                            twoLevelMin: Int = twoLevelMinCells,
                            superProbe: Int = defaultSuperProbe,
                            seedArr: Array[(Long, Array[Double], Double)] = null)
      : DataFrame = {
    val cents: Array[(Long, Array[Double], Double)] =
      if (seedArr != null) seedArr
      else (if (seedFrom == null) e else seedFrom)
        .orderBy("vec_id").limit(nCells)
        .select("vec_id", "v", "norm").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val sc = e.sparkSession.sparkContext
    val bc = sc.broadcast(cents)
    // (super-centroids, children) broadcast only when the two-level path
    // is active; null otherwise so the flat path ships nothing extra
    val bcSup: org.apache.spark.broadcast.Broadcast[(Array[Array[Double]], Array[Array[Int]])] =
      if (cents.length >= twoLevelMin) sc.broadcast(superQuantizer(cents)) else null
    // native expression, not a udf: the ranking kernel is byte-identical
    // ([[graft.functions.CellRanks.rank]] holds the former udf body) but
    // the vector arrives as one primitive bulk copy instead of a boxed
    // Seq[Double] per row — the assignment pass runs on every dense
    // build/append/serve, so the per-element boxing WAS the build CPU
    import org.apache.spark.sql.graft.GraftShim
    e.withColumn("cells", GraftShim.column(
      graft.functions.CellRanksExpr(
        GraftShim.expression(col("v")), GraftShim.expression(col("norm")),
        bc, bcSup, math.max(1, keep), superProbe)))
  }

  /** Cell count that keeps expected cell occupancy ≈ `target` vectors:
    * n/target floored at the small-corpus default (sf-oracle runs stay
    * bit-identical). Fixed nCells means candidates per query grow
    * linearly with the corpus — the sfL run measured IVF-PQ at 4.3×
    * super-linear before this; every real IVF index grows its cell count
    * with the corpus. Driver cost stays bounded: centroids are
    * O(nCells·dim) = O(n/target·dim), e.g. ~100 MB at 1B vectors.
    */
  private[ml] def autoCells(n: Long, floorCells: Int, target: Long = 5000L): Int =
    // toIntExact, not toInt: n/target silently wrapping past Int.MaxValue
    // (n > ~10^13) must fail loudly, not truncate to a garbage cell count
    math.max(floorCells, math.toIntExact(n / target))

  /** Scored IVF probe-cell candidate table (query_id, neighbor_id,
    * cosine) — the candidate set BEFORE any top-k cut. Shared by
    * [[ivfTopK]] and the label-aware miners ([[KnnEval.hardNegativesIvf]])
    * that must filter candidates before ranking: cutting first would
    * discard exactly the rows the filter is looking for.
    */
  private[ml] def ivfCandidates(emb: DataFrame, isQuery: Column,
                                nCells: Int = 16, nProbe: Int = 4,
                                forceFlat: Boolean = false,
                                superProbe: Int = defaultSuperProbe): DataFrame = {
    val e = normed(emb)
    // (vec, cell, rank-by-similarity) — rank 1 = assignment; queries also
    // keep ranks <= nProbe as their probe set
    val ranked = withCellRanks(e, autoCells(emb.count(), nCells), nProbe,
      twoLevelMin = if (forceFlat) Int.MaxValue else twoLevelMinCells,
      superProbe = superProbe)
    val assigned = ranked.select(col("vec_id"), col("v"), col("norm"),
      element_at(col("cells"), 1).as("cell"))
    val probes = ranked.where(isQuery)
      .select(col("vec_id").as("query_id"),
        explode(slice(col("cells"), 1, nProbe)).as("cell"))

    val cand = assigned.join(probes, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
    val q = e.where(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    cand.join(q, "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(safeCosine(dot(col("v"), col("qv")), col("norm"), col("qnorm")), 6).as("cosine"))
      .distinct() // a neighbor can surface via several probed cells
  }

  def ivfTopK(emb: DataFrame, isQuery: Column, k: Int,
              nCells: Int = 16, nProbe: Int = 4,
              forceFlat: Boolean = false,
              superProbe: Int = defaultSuperProbe): DataFrame =
    topK(ivfCandidates(emb, isQuery, nCells, nProbe, forceFlat, superProbe), k)
      .select("query_id", "neighbor_id", "cosine", "rank")

  /** Shared oracle CTE block: normalized vectors, seed centroids, and the
    * per-vector centroid similarity ranking (defines `e`, `cents`,
    * `ranks`) — the coarse-quantizer assignment both [[ivfTopK]] and
    * [[semanticDedup]] build on.
    */
  /** `preCtesSql` (trained variants): extra CTEs emitted after `e` —
    * e.g. a kmeans-centroid replay chain — that `centsSql` (an override
    * for the seeded centroid SELECT) may then reference.
    */
  /** `embExprSql`: the SQL expression yielding each row's embedding —
    * default the stored column; an UPSERT oracle substitutes a CASE that
    * rewrites the upserted rows' vectors in place (the oracle's `e` IS
    * the post-upsert corpus, exactly what the store serves after
    * delete-then-add).
    */
  private[ml] def cellCtesSql(nCells: Int,
                              centroidWhereSql: String = "TRUE",
                              centsSql: Option[String] = None,
                              preCtesSql: Option[String] = None,
                              embExprSql: String = "embedding"): String =
    s"""e AS (
       |  SELECT vec_id, ($embExprSql)::DOUBLE[] AS v,
       |         sqrt(list_dot_product(($embExprSql)::DOUBLE[], ($embExprSql)::DOUBLE[])) AS norm
       |  FROM embeddings),
       |${preCtesSql.map(p => s"$p,\n").getOrElse("")}cents AS (
       |  ${centsSql.getOrElse(
             s"""SELECT vec_id AS cid, v AS cv, norm AS cn FROM e
                |  WHERE $centroidWhereSql
                |  ORDER BY vec_id LIMIT $nCells""".stripMargin)}),
       |ranks AS (
       |  SELECT e.vec_id, c.cid,
       |         row_number() OVER (
       |           PARTITION BY e.vec_id
       |           ORDER BY floor((CASE WHEN e.norm * c.cn = 0 THEN 0.0 ELSE list_dot_product(e.v, c.cv) / (e.norm * c.cn) END) * 1e9 + 0.5) / 1e9 DESC,
       |                    c.cid) AS rnk
       |  FROM e CROSS JOIN cents c)""".stripMargin

  /** Coarse-quantizer assignment table (vec_id, cell) for the whole
    * corpus — the index-build step every IVF-family operator shares,
    * exposed as its own operator so the assignment wall (the dominant
    * build cost once [[autoCells]] scales nCells with the corpus) can be
    * measured and A/B'd directly. `forceFlat = true` pins the exact
    * one-level scan at ANY corpus size — the A/B baseline; the default
    * follows [[withCellRanks]]'s two-level activation at
    * [[twoLevelMinCells]].
    */
  def ivfAssign(emb: DataFrame, nCells: Int = 16,
                forceFlat: Boolean = false,
                superProbe: Int = defaultSuperProbe): DataFrame =
    withCellRanks(normed(emb), autoCells(emb.count(), nCells),
      twoLevelMin = if (forceFlat) Int.MaxValue else twoLevelMinCells,
      superProbe = superProbe)
      .select(col("vec_id"), element_at(col("cells"), 1).as("cell"))

  def ivfAssignOracleSql(nCells: Int = 16): String =
    s"""WITH ${cellCtesSql(nCells)}
       |SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1""".stripMargin

  /** Fraction of vectors whose two-level assignment matches the exact
    * flat scan — the honesty metric for the approximate two-level path.
    * At the oracle floor both paths are the same flat scan, so the
    * sf-level oracle row checks the join/aggregation plumbing (agreement
    * is structurally 1.0 there); the 100×/1000× sweeps, where two-level
    * is live, record the real number. Output: (n_vectors, n_agree,
    * agreement).
    */
  def ivfAssignAgreement(emb: DataFrame, nCells: Int = 16,
                         superProbe: Int = defaultSuperProbe): DataFrame = {
    val two = ivfAssign(emb, nCells, superProbe = superProbe)
      .withColumnRenamed("cell", "cell_two")
    val flat = ivfAssign(emb, nCells, forceFlat = true)
      .withColumnRenamed("cell", "cell_flat")
    two.join(flat, "vec_id")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("cell_two") === col("cell_flat"), 1L).otherwise(0L))
          .as("n_agree"),
        round(avg(when(col("cell_two") === col("cell_flat"), 1.0)
          .otherwise(0.0)), 6).as("agreement"))
  }

  def ivfAssignAgreementOracleSql: String =
    """SELECT count(*) AS n_vectors, count(*) AS n_agree,
      |       cast(1.0 AS DOUBLE) AS agreement
      |FROM embeddings""".stripMargin

  // Spark's encoder codegen needs public access (cf. Dedup.VecBlock)
  final case class CellBlock(cell: Long, sub: Int, ids: Array[Long],
                             flat: Array[Double], norms: Array[Double])
  final case class CellPair(cell: Long, vec_a: Long, vec_b: Long,
                            cos_raw: Double)
  final case class CellCand(query_id: Long, neighbor_id: Long,
                            cos_raw: Double)

  /** SemDeDup-style semantic near-dup pairs: assign every vector to its
    * nearest seed centroid (the same coarse quantizer as [[ivfTopK]]),
    * then compare pairs WITHIN a cell only — cosine >= `threshold` after
    * 6-dp rounding. This is the scale path for embedding dedup: candidate
    * volume drops from n²/2 to Σ|cell|²/2 ≈ n²/(2·nCells), no driver
    * state beyond the constant centroid collect. Cross-cell near-dups are
    * missed by construction (the SemDeDup trade-off);
    * [[Dedup.embeddingCosine]] remains the exact baseline.
    *
    * Physical design: each cell's vectors pack into `nSub` primitive-array
    * sub-blocks (bounding any one task's memory even on a skewed cell);
    * block pairs join on the cell key with sub_a <= sub_b and run the same
    * fused while-loop kernel as the exact baseline — no per-pair array
    * allocation, no interpreted fold over a row-level self-join. The
    * kernel emits raw cosines with a half-ulp margin; the exact 6-dp
    * round + threshold applies as column expressions, matching the oracle
    * bit-for-bit. Output: (cell, vec_a, vec_b, cosine).
    */
  def semanticDedup(emb: DataFrame, threshold: Double,
                    nCells: Int = 16, nSub: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = normed(emb)
    // corpus-sized cell count (see autoCells): within-cell pair volume is
    // Σ|cell|²/2, so constant occupancy keeps it LINEAR in n instead of
    // n²/nCells with fixed cells
    val blocks = withCellRanks(e, autoCells(emb.count(), nCells))
      .select(col("vec_id"), col("v"), col("norm"),
        element_at(col("cells"), 1).as("cell"))
      .as[(Long, Array[Double], Double, Long)]
      .groupByKey { case (id, _, _, cell) => (cell, (id % nSub).toInt) }
      .mapGroups { (key: (Long, Int), it: Iterator[(Long, Array[Double], Double, Long)]) =>
        val (cell, sub) = key
        val rows = it.toArray.sortBy(_._1)
        val dim = if (rows.isEmpty) 0 else rows(0)._2.length
        val flat = new Array[Double](rows.length * dim)
        val norms = new Array[Double](rows.length)
        var i = 0
        while (i < rows.length) {
          System.arraycopy(rows(i)._2, 0, flat, i * dim, dim)
          norms(i) = rows(i)._3
          i += 1
        }
        CellBlock(cell, sub, rows.map(_._1), flat, norms)
      }
    val margin = threshold - 5.1e-7 // keep pairs that 6-dp-round up
    val pairs = blocks.as("bl").joinWith(blocks.as("br"),
        col("bl.cell") === col("br.cell") && col("bl.sub") <= col("br.sub"),
        "inner")
      .flatMap { case (a, b) =>
        val dim = if (a.ids.length > 0) a.flat.length / a.ids.length else 0
        val out = scala.collection.mutable.ArrayBuffer.empty[CellPair]
        val sameSub = a.sub == b.sub
        var i = 0
        while (i < a.ids.length) {
          var j = 0
          while (j < b.ids.length) {
            val ia = a.ids(i)
            val jb = b.ids(j)
            // same sub-block: each unordered pair once via id order;
            // distinct sub-blocks: every (i, j) combination is unique —
            // emit with ids ordered (products commute bit-exactly)
            if (if (sameSub) ia < jb else ia != jb) {
              var s = 0.0
              var d = 0
              val oi = i * dim
              val oj = j * dim
              while (d < dim) { s += a.flat(oi + d) * b.flat(oj + d); d += 1 }
              // zero-vector convention: cosine 0 (a NaN here would fail
              // the >= margin compare — same skip outcome, but by
              // accident; pin it)
              val nn = a.norms(i) * b.norms(j)
              val c = if (nn == 0) 0.0 else s / nn
              if (c >= margin)
                out += CellPair(a.cell, math.min(ia, jb), math.max(ia, jb), c)
            }
            j += 1
          }
          i += 1
        }
        out
      }
    pairs.toDF()
      .select(col("cell"), col("vec_a"), col("vec_b"),
        round(col("cos_raw"), 6).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  def semanticDedupOracleSql(threshold: Double, nCells: Int = 16): String =
    s"""WITH ${cellCtesSql(nCells)},
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1)
       |SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       round(${safeCosineSql(
                "list_dot_product(ea.v, eb.v)", "ea.norm", "eb.norm")}, 6) AS cosine
       |FROM assigned a
       |JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |JOIN e ea ON ea.vec_id = a.vec_id
       |JOIN e eb ON eb.vec_id = b.vec_id
       |WHERE round(${safeCosineSql(
                "list_dot_product(ea.v, eb.v)", "ea.norm", "eb.norm")}, 6)
       |      >= $threshold""".stripMargin

  /** Cell-scoped top-k for EVERY vector — the all-queries sibling of
    * [[ivfTopK]] (nProbe = 1): per vector, its `k` nearest same-cell
    * neighbors by 6-dp cosine, neighbor-id tie-break. Logically identical
    * to `ivfTopK(emb, lit(true), k, nProbe = 1)`; physically it replaces
    * that plan's re-attach join — which shuffles corpus × occupancy rows
    * CARRYING the 64-double vectors when the query set is the whole
    * corpus (measured: ~550 GB of spill at the 200k corpus, "No space
    * left on device") — with [[semanticDedup]]'s fused block kernel run
    * in top-k mode: vectors pack into per-(cell, sub) primitive blocks,
    * each ordered block pair emits k partial candidates per query from a
    * bounded insertion heap, and one window over the n·nSub·k SCALAR
    * partials picks the global per-vector top-k. Nothing wider than
    * (id, id, double) is ever shuffled; per-task state is two blocks.
    * In-kernel ordering uses the 6-dp-rounded cosine (id tie-break), the
    * same key the final window and the DuckDB oracle rank by — a raw-
    * cosine heap could drop a candidate that rounds into a tie it wins.
    */
  def cellTopK(emb: DataFrame, k: Int, nCells: Int = 16,
               nSub: Int = 8): DataFrame = {
    require(k > 0 && nCells > 0 && nSub > 0,
      "k, nCells, nSub must be positive")
    val spark = emb.sparkSession
    import spark.implicits._
    val e = normed(emb)
    val blocks = withCellRanks(e, autoCells(emb.count(), nCells))
      .select(col("vec_id"), col("v"), col("norm"),
        element_at(col("cells"), 1).as("cell"))
      .as[(Long, Array[Double], Double, Long)]
      .groupByKey { case (id, _, _, cell) => (cell, (id % nSub).toInt) }
      .mapGroups { (key: (Long, Int), it: Iterator[(Long, Array[Double], Double, Long)]) =>
        val (cell, sub) = key
        val rows = it.toArray.sortBy(_._1)
        val dim = if (rows.isEmpty) 0 else rows(0)._2.length
        val flat = new Array[Double](rows.length * dim)
        val norms = new Array[Double](rows.length)
        var i = 0
        while (i < rows.length) {
          System.arraycopy(rows(i)._2, 0, flat, i * dim, dim)
          norms(i) = rows(i)._3
          i += 1
        }
        CellBlock(cell, sub, rows.map(_._1), flat, norms)
      }
    // ALL ordered block pairs within a cell (bl = query side, br =
    // candidate side, including bl == br): every query sees every
    // same-cell candidate exactly once across pairs
    val partials = blocks.as("bl").joinWith(blocks.as("br"),
        col("bl.cell") === col("br.cell"), "inner")
      .flatMap { case (a, b) =>
        val dim = if (a.ids.length > 0) a.flat.length / a.ids.length else 0
        val m = math.min(k, b.ids.length)
        val out = scala.collection.mutable.ArrayBuffer.empty[CellCand]
        var i = 0
        while (i < a.ids.length) {
          val qid = a.ids(i)
          // bounded top-m insertion by (rounded cosine desc, id asc)
          val topId = new Array[Long](m)
          val topC6 = new Array[Double](m)
          val topRaw = new Array[Double](m)
          var filled = 0
          var j = 0
          while (j < b.ids.length) {
            val nid = b.ids(j)
            if (nid != qid) {
              var sDot = 0.0
              var d = 0
              val oi = i * dim
              val oj = j * dim
              while (d < dim) { sDot += a.flat(oi + d) * b.flat(oj + d); d += 1 }
              // zero-vector convention: cosine 0, never NaN (see offer())
              val nn = a.norms(i) * b.norms(j)
              val raw = if (nn == 0) 0.0 else sDot / nn
              val c6 = math.floor(raw * 1e6 + 0.5) / 1e6
              var pos = filled
              while (pos > 0 && (topC6(pos - 1) < c6 ||
                (topC6(pos - 1) == c6 && topId(pos - 1) > nid))) pos -= 1
              if (pos < m) {
                val last = math.min(filled, m - 1)
                var t = last
                while (t > pos) {
                  topId(t) = topId(t - 1); topC6(t) = topC6(t - 1)
                  topRaw(t) = topRaw(t - 1); t -= 1
                }
                topId(pos) = nid; topC6(pos) = c6; topRaw(pos) = raw
                if (filled < m) filled += 1
              }
            }
            j += 1
          }
          var t = 0
          while (t < filled) {
            out += CellCand(qid, topId(t), topRaw(t)); t += 1
          }
          i += 1
        }
        out
      }
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), asc("neighbor_id"))
    partials.toDF()
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos_raw"), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Product-quantization codes — the storage path beyond int8: split
    * each vector into `nSub` contiguous subvectors and assign every
    * subvector to its nearest codeword (L2, 9-dp-rounded with code-id
    * tie-break). Codebooks reuse the seed-vector convention of the IVF
    * coarse quantizer: codebook m = subvector m of the `k` smallest-id
    * corpus vectors — deterministic, collected driver-side
    * (constant-bounded) and broadcast; assignment is one linear scan.
    * Output long-form: (vec_id, sub, code) — nSub·k·dim/nSub work per
    * row, no shuffle. A production build swaps the seed codebooks for
    * k-means ones; every shape downstream is unchanged.
    */
  def pqCodes(emb: DataFrame, nSub: Int = 8, k: Int = 16): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = normed(emb)
    val cents: Array[(Long, Array[Double])] = e
      .orderBy("vec_id").limit(k)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val bc = spark.sparkContext.broadcast(cents)
    // native expression, not a udf: same kernel, primitive vector input
    // instead of a boxed Seq[Double] per row (graft.functions.PqKernels)
    val codes = org.apache.spark.sql.graft.GraftShim.column(
      graft.functions.PqSeedCodes(
        org.apache.spark.sql.graft.GraftShim.expression(col("v")), bc, nSub))
    e.select(col("vec_id"), posexplode(codes).as(Seq("sub", "code")))
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"))
  }

  def pqCodesOracleSql(nSub: Int = 8, k: Int = 16, dim: Int = 64,
                       codebookWhereSql: String = "TRUE"): String = {
    val sub = dim / nSub
    val branches = (0 until nSub).map { m =>
      val d2 = (0 until sub).map { d =>
        val i = m * sub + d + 1
        s"(e.v[$i] - c.cv[$i]) * (e.v[$i] - c.cv[$i])"
      }.mkString(" + ")
      s"SELECT e.vec_id, $m AS sub, c.cid, $d2 AS d2 FROM e CROSS JOIN cents c"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cid, v AS cv FROM e
       |  WHERE $codebookWhereSql
       |  ORDER BY vec_id LIMIT $k),
       |dists AS (
       |  $branches),
       |ranked AS (
       |  SELECT vec_id, sub, cid,
       |         row_number() OVER (
       |           PARTITION BY vec_id, sub
       |           ORDER BY floor(d2 * 1e9 + 0.5) / 1e9, cid) AS rnk
       |  FROM dists)
       |SELECT vec_id, sub::BIGINT AS sub, cid AS code
       |FROM ranked WHERE rnk = 1""".stripMargin
  }

  /** IVF-PQ approximate top-k — the full compressed-index ANN query:
    * candidates come from the query's `nProbe` nearest IVF cells, and
    * ranking uses asymmetric-distance computation (ADC) over the PQ
    * codes: a per-query lookup table of squared L2 distances from each
    * query subvector to every codeword (nSub·nCode entries, a
    * constant-size relation), gathered per candidate through its codes
    * and summed. No full vector is touched after indexing — exactly the
    * IVF-PQ engine shape, expressed relationally.
    *
    * Determinism: every LUT entry is scaled to an int64
    * (floor(d2·1e9 + 0.5)), so the per-candidate ADC sum is an
    * order-independent INTEGER — no float-summation ambiguity between
    * engines; ties break on neighbor id. Output:
    * (query_id, neighbor_id, adc_e9, rank) with adc_e9 the scaled
    * integer distance (smaller = closer).
    */
  def ivfPqTopK(emb: DataFrame, isQuery: Column, k: Int, nCells: Int = 16,
                nProbe: Int = 4, nSub: Int = 8, nCode: Int = 16): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = normed(emb)
    // corpus-sized cell count (see autoCells): constant expected
    // occupancy, so ADC candidate volume per query stays ~constant
    val ranked = withCellRanks(e, autoCells(emb.count(), nCells), nProbe)
    val assigned = ranked.select(col("vec_id"),
      element_at(col("cells"), 1).as("cell"))
    val probes = ranked.where(isQuery)
      .select(col("vec_id").as("query_id"),
        explode(slice(col("cells"), 1, nProbe)).as("cell"))
    val codes = pqCodes(emb, nSub, nCode)

    // (sub, code, codeword-subvector) — constant-size relation from the
    // same seed codebooks pqCodes assigns against
    val cents: Array[(Long, Array[Double])] = e
      .orderBy("vec_id").limit(nCode)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val dim = if (cents.nonEmpty) cents(0)._2.length else 0
    val sub = dim / nSub
    val cwRows = for {
      m <- 0 until nSub
      (cid, cv) <- cents
    } yield (m.toLong, cid, cv.slice(m * sub, (m + 1) * sub).toSeq)
    val cw = spark.createDataset(cwRows).toDF("sub", "code", "cw")

    // per-query ADC lookup table: d2(query subvector, codeword), scaled
    // to an exact int64
    val qv = e.where(isQuery).select(col("vec_id").as("query_id"), col("v"))
    val qsub = slice(col("v"), col("sub").cast("int") * sub + 1, lit(sub))
    val d2 = VecFold.l2sq(qsub, col("cw"))
    val lut = qv.crossJoin(broadcast(cw))
      .select(col("query_id"), col("sub"), col("code"),
        floor(d2 * 1e9 + 0.5).cast("long").as("d2i"))

    val cand = probes.join(assigned, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val adc = cand
      .join(codes, "vec_id")
      .join(lut, Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("d2i").as("adc_e9"))
    // ascending by integer distance
    topK(adc, k, Seq(asc("adc_e9"), asc("neighbor_id")))
      .select("query_id", "neighbor_id", "adc_e9", "rank")
  }

  def ivfPqTopKOracleSql(k: Int, nCells: Int = 16, nProbe: Int = 4,
                         nSub: Int = 8, nCode: Int = 16, dim: Int = 64,
                         isQuerySql: String = defaultIsQuerySql,
                         centroidWhereSql: String = "TRUE",
                         codebookWhereSql: String = "TRUE",
                         candWhereSql: String = "TRUE"): String = {
    val sub = dim / nSub
    val lutBranches = (0 until nSub).map { m =>
      val d2 = (0 until sub).map { d =>
        val i = m * sub + d + 1
        s"(q.v[$i] - c.cv[$i]) * (q.v[$i] - c.cv[$i])"
      }.mkString(" + ")
      s"""SELECT q.vec_id AS query_id, $m AS sub, c.cid AS code,
         |         floor(($d2) * 1e9 + 0.5)::BIGINT AS d2i
         |  FROM q, pqcents c""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH ${cellCtesSql(nCells, centroidWhereSql)},
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell
       |  FROM ranks WHERE rnk <= $nProbe AND $isQuerySql),
       |q AS (SELECT vec_id, v FROM e WHERE $isQuerySql),
       |pqcents AS (SELECT vec_id AS cid, v AS cv FROM e
       |  WHERE $codebookWhereSql ORDER BY vec_id LIMIT $nCode),
       |codes AS (SELECT * FROM (${pqCodesOracleSql(nSub, nCode, dim, codebookWhereSql)})),
       |lut AS (
       |  $lutBranches),
       |cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM probes p JOIN assigned a ON a.cell = p.cell
       |  WHERE a.vec_id != p.query_id
       |    AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE $candWhereSql)),
       |adc AS (
       |  SELECT cd.query_id, cd.vec_id AS neighbor_id,
       |         sum(l.d2i)::BIGINT AS adc_e9
       |  FROM cand cd
       |  JOIN codes co ON co.vec_id = cd.vec_id
       |  JOIN lut l ON l.query_id = cd.query_id
       |            AND l.sub = co.sub AND l.code = co.code
       |  GROUP BY cd.query_id, cd.vec_id),
       |rankedq AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY adc_e9, neighbor_id) AS rank
       |  FROM adc)
       |SELECT query_id, neighbor_id, adc_e9, rank
       |FROM rankedq WHERE rank <= $k""".stripMargin
  }

  /** The ONE shortlist-depth rule every rerank serve and its oracle
    * share: `rerank <= 0` (the default everywhere) resolves to
    * max(10·k, 40). The 10·k factor is MEASURED, not folklore: on the
    * 100× separation-free jitter corpus the old fixed default of 4·k
    * served recall@10 = 0.49 — a correct-per-oracle serve silently
    * returning half the true neighbors — while depth 10·k recovers 1.0
    * at flat serve cost (the refine join is nq·depth-bounded either
    * way; BENCH_r13_tiers rerank-depth sweep, SCALING.md). Explicit
    * positive depths are honored unchanged, floored at k.
    */
  def autoRerank(k: Int, rerank: Int): Int = {
    require(rerank <= 0 || rerank >= k,
      "shortlist depth must be at least k (or <= 0 for the auto rule)")
    if (rerank > 0) rerank else math.max(10 * k, 40)
  }

  /** IVF-PQ with an exact re-rank stage — the production compressed-index
    * query shape (cf. FAISS IndexIVFPQ + IndexRefineFlat): the ADC scan
    * shortlists `rerank` candidates per query from PQ codes alone
    * (compressed bytes; no full vectors touched during the scan), then
    * ONLY those `rerank` full vectors are fetched and scored with the
    * exact cosine, recovering most of the recall that PQ quantization
    * gives up for ~`rerank` extra dot products per query. At 100 TB the
    * refine stage's cost is queries × rerank — independent of corpus
    * size — and the vector fetch is an equi-join on vec_id against the
    * (shortlist-sized) candidate set, so the full-precision corpus is
    * shuffle-pruned to exactly the rows the shortlist names. Output
    * columns match [[bruteForceTopK]], so [[recallVs]] applies unchanged
    * and downstream consumers can swap exact → rerank without a schema
    * change.
    */
  def ivfPqRerankTopK(emb: DataFrame, isQuery: Column, k: Int,
                      rerank: Int = 0, nCells: Int = 16, nProbe: Int = 4,
                      nSub: Int = 8, nCode: Int = 16): DataFrame = {
    val depth = autoRerank(k, rerank)
    val short = ivfPqTopK(emb, isQuery, depth, nCells, nProbe, nSub, nCode)
      .select("query_id", "neighbor_id")
    val e = normed(emb)
    val nbr = e.select(col("vec_id").as("neighbor_id"), col("v"), col("norm"))
    val q = e.where(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"))
    val scored = short.join(nbr, Seq("neighbor_id")).join(q, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(safeCosine(dot(col("v"), col("qv")), col("norm"), col("qnorm")), 6)
          .as("cosine"))
    topK(scored, k).select("query_id", "neighbor_id", "cosine", "rank")
  }

  def ivfPqRerankTopKOracleSql(k: Int, rerank: Int = 0, nCells: Int = 16,
                               nProbe: Int = 4, nSub: Int = 8,
                               nCode: Int = 16, dim: Int = 64,
                               isQuerySql: String = defaultIsQuerySql): String =
    s"""WITH short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    ${ivfPqTopKOracleSql(autoRerank(k, rerank), nCells, nProbe, nSub, nCode, dim, isQuerySql)})),
       |ee AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
       |  FROM embeddings),
       |qq AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm
       |       FROM ee WHERE $isQuerySql),
       |scored AS (
       |  SELECT s.query_id, s.neighbor_id,
       |         round(${safeCosineSql(
                  "list_dot_product(e.v, q.qv)", "e.norm", "q.qnorm")}, 6) AS cosine
       |  FROM short s
       |  JOIN ee e ON e.vec_id = s.neighbor_id
       |  JOIN qq q ON q.query_id = s.query_id),
       |rankedr AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine, rank
       |FROM rankedr WHERE rank <= $k""".stripMargin

  /** Recall of the reranked IVF-PQ ranking against the exact one — the
    * number that justifies the refine stage: it should sit between
    * [[ivfPqRecall]] (ADC-only) and the probe ceiling [[ivfRecall]]
    * (cell misses are unrecoverable by rerank; quantization misses are
    * exactly what it repairs).
    */
  def ivfPqRerankRecall(emb: DataFrame, isQuery: Column, k: Int): DataFrame =
    recallVs(bruteForceTopK(emb, isQuery, k), ivfPqRerankTopK(emb, isQuery, k), k)

  def ivfPqRerankRecallOracleSql(k: Int): String =
    recallOracleSql(bruteForceTopKOracleSql(k), ivfPqRerankTopKOracleSql(k), k)

  /** CTE chain ending in `scored(query_id, neighbor_id, cosine)` — the
    * SQL twin of [[ivfCandidates]]; shared by [[ivfTopKOracleSql]] and
    * [[KnnEval.hardNegativesIvfOracleSql]].
    */
  private[ml] def ivfScoredCtesSql(nCells: Int, nProbe: Int,
                                   isQuerySql: String,
                                   centroidWhereSql: String = "TRUE",
                                   candWhereSql: String = "TRUE",
                                   centsSql: Option[String] = None,
                                   preCtesSql: Option[String] = None,
                                   embExprSql: String = "embedding"): String =
    s"""${cellCtesSql(nCells, centroidWhereSql, centsSql, preCtesSql,
                      embExprSql)},
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell
       |  FROM ranks WHERE rnk <= $nProbe AND $isQuerySql),
       |q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM e WHERE $isQuerySql),
       |scored AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
       |         round(${safeCosineSql(
                  "list_dot_product(e.v, q.qv)", "e.norm", "q.qnorm")}, 6) AS cosine
       |  FROM probes p
       |  JOIN assigned a ON a.cell = p.cell
       |  JOIN e ON e.vec_id = a.vec_id
       |  JOIN q ON q.query_id = p.query_id
       |  WHERE a.vec_id != p.query_id
       |    AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE $candWhereSql))""".stripMargin

  def ivfTopKOracleSql(k: Int, nCells: Int = 16, nProbe: Int = 4,
                       isQuerySql: String = defaultIsQuerySql,
                       centroidWhereSql: String = "TRUE",
                       candWhereSql: String = "TRUE",
                       embExprSql: String = "embedding"): String =
    s"""WITH ${ivfScoredCtesSql(nCells, nProbe, isQuerySql, centroidWhereSql,
                                candWhereSql, embExprSql = embExprSql)},
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= $k""".stripMargin

  /** DuckDB oracle for the persisted IVF-SQ8 serve
    * ([[Index.ivfSqTopKIndexed]]): the [[int8TopK]] quantization and
    * ranking CTEs composed with the IVF probe cut — candidates from the
    * probed cells, scored by the exact integer code dot times the
    * neighbor's rescale factor. `centroidWhereSql` pins the seed set
    * for append stores (per-vector scales mean nothing else freezes).
    * Emits the rescaled dot as `score` — the unified SQ serve contract
    * (a rank-only surrogate on absolute stores; exact in double, since
    * every product and the sum are integers well under 2^53).
    */
  def ivfSqTopKOracleSql(k: Int, nCells: Int = 16, nProbe: Int = 4,
                         isQuerySql: String = defaultIsQuerySql,
                         centroidWhereSql: String = "TRUE",
                         candWhereSql: String = "TRUE"): String =
    s"""WITH ${cellCtesSql(nCells, centroidWhereSql)},
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell
       |  FROM ranks WHERE rnk <= $nProbe AND $isQuerySql),
       |sq AS (
       |  SELECT vec_id,
       |         list_transform(v, x -> floor(x * 127.0 /
       |           (CASE WHEN s = 0 THEN 1.0 ELSE s END) + 0.5)) AS q,
       |         round(CASE WHEN norm = 0 THEN 0.0 ELSE s / norm END, 9) AS r
       |  FROM (SELECT vec_id, v, norm,
       |          list_max(list_transform(v, x -> abs(x))) AS s FROM e)),
       |qs AS (SELECT vec_id AS query_id, q AS qq FROM sq WHERE $isQuerySql),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         list_dot_product(s2.q, qs.qq) * s2.r AS score
       |  FROM probes p
       |  JOIN assigned a ON a.cell = p.cell
       |  JOIN sq s2 ON s2.vec_id = a.vec_id
       |  JOIN qs ON qs.query_id = p.query_id
       |  WHERE a.vec_id != p.query_id
       |    AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE $candWhereSql)),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY score DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= $k""".stripMargin

  /** DuckDB oracle for the RESIDUAL-coded SQ serve
    * ([[Index.ivfSqTopKIndexed]] on a `saveIvfSq(residual = true)`
    * store): per-vector int8 over x − c[cell], reconstruction
    * x̂ = c + qb·scale/127, ranked by the true cosine of x̂ against the
    * float query. Residuals need per-index arithmetic over two lists —
    * expressed via an index-literal transform (the residual-PQ oracle's
    * expansion device, list-shaped).
    */
  def ivfSqResidualTopKOracleSql(k: Int, nCells: Int = 16, nProbe: Int = 4,
                                 dim: Int = 64,
                                 isQuerySql: String = defaultIsQuerySql,
                                 candWhereSql: String = "TRUE"): String = {
    val idx = (1 to dim).mkString("[", ", ", "]")
    s"""WITH ${cellCtesSql(nCells)},
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell
       |  FROM ranks WHERE rnk <= $nProbe AND $isQuerySql),
       |resid AS (
       |  SELECT e.vec_id, a.cell,
       |         list_transform($idx, i -> e.v[i] - c.cv[i]) AS rv
       |  FROM e JOIN assigned a ON a.vec_id = e.vec_id
       |  JOIN cents c ON c.cid = a.cell),
       |coded AS (
       |  SELECT vec_id, cell,
       |         list_transform(rv, x -> floor(x * 127.0 /
       |           (CASE WHEN s = 0 THEN 1.0 ELSE s END) + 0.5)) AS qb,
       |         s AS r
       |  FROM (SELECT vec_id, cell, rv,
       |          list_max(list_transform(rv, x -> abs(x))) AS s FROM resid)),
       |xhat AS (
       |  SELECT d.vec_id, d.cell,
       |         list_transform($idx, i -> c.cv[i] + d.qb[i] * d.r / 127.0) AS xh
       |  FROM coded d JOIN cents c ON c.cid = d.cell),
       |qs AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM e
       |       WHERE $isQuerySql),
       |scored AS (
       |  SELECT p.query_id, x.vec_id AS neighbor_id,
       |         round(${safeCosineSql(
                  "list_dot_product(x.xh, qs.qv)",
                  "sqrt(list_dot_product(x.xh, x.xh))", "qs.qnorm")}, 6)
       |           AS score
       |  FROM probes p
       |  JOIN xhat x ON x.cell = p.cell
       |  JOIN qs ON qs.query_id = p.query_id
       |  WHERE x.vec_id != p.query_id
       |    AND x.vec_id IN (SELECT vec_id FROM embeddings WHERE $candWhereSql)),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY score DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, score, rank FROM ranked
       |WHERE rank <= $k""".stripMargin
  }

  /** DuckDB oracle for the RESIDUAL-SQ rerank serve
    * ([[Index.ivfSqRerankTopKIndexed]] on a `saveIvfSq(residual = true,
    * withRaw = true)` store): the residual shortlist — dequantized-
    * cosine ranking over x̂ = c + qb·scale/127, the SAME coding branch
    * the plain residual serve uses — then the exact-cosine refine over
    * the shortlisted pairs.
    */
  def ivfSqResidualRerankTopKOracleSql(k: Int, rerank: Int = 0,
                                       nCells: Int = 16, nProbe: Int = 4,
                                       dim: Int = 64,
                                       isQuerySql: String = defaultIsQuerySql,
                                       candWhereSql: String = "TRUE"): String = {
    val idx = (1 to dim).mkString("[", ", ", "]")
    s"""WITH ${cellCtesSql(nCells)},
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell
       |  FROM ranks WHERE rnk <= $nProbe AND $isQuerySql),
       |resid AS (
       |  SELECT e.vec_id, a.cell,
       |         list_transform($idx, i -> e.v[i] - c.cv[i]) AS rv
       |  FROM e JOIN assigned a ON a.vec_id = e.vec_id
       |  JOIN cents c ON c.cid = a.cell),
       |coded AS (
       |  SELECT vec_id, cell,
       |         list_transform(rv, x -> floor(x * 127.0 /
       |           (CASE WHEN s = 0 THEN 1.0 ELSE s END) + 0.5)) AS qb,
       |         s AS r
       |  FROM (SELECT vec_id, cell, rv,
       |          list_max(list_transform(rv, x -> abs(x))) AS s FROM resid)),
       |xhat AS (
       |  SELECT d.vec_id, d.cell,
       |         list_transform($idx, i -> c.cv[i] + d.qb[i] * d.r / 127.0) AS xh
       |  FROM coded d JOIN cents c ON c.cid = d.cell),
       |qs AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM e
       |       WHERE $isQuerySql),
       |sqscored AS (
       |  SELECT p.query_id, x.vec_id AS neighbor_id,
       |         round(${safeCosineSql(
                  "list_dot_product(x.xh, qs.qv)",
                  "sqrt(list_dot_product(x.xh, x.xh))", "qs.qnorm")}, 6)
       |           AS sqcos
       |  FROM probes p
       |  JOIN xhat x ON x.cell = p.cell
       |  JOIN qs ON qs.query_id = p.query_id
       |  WHERE x.vec_id != p.query_id
       |    AND x.vec_id IN (SELECT vec_id FROM embeddings WHERE $candWhereSql)),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |              ORDER BY sqcos DESC, neighbor_id) AS srank
       |    FROM sqscored) WHERE srank <= ${autoRerank(k, rerank)}),
       |refined AS (
       |  SELECT s.query_id, s.neighbor_id,
       |         round(${safeCosineSql(
                  "list_dot_product(e.v, qs.qv)", "e.norm", "qs.qnorm")}, 6)
       |           AS cosine
       |  FROM short s
       |  JOIN e ON e.vec_id = s.neighbor_id
       |  JOIN qs ON qs.query_id = s.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM refined)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked
       |WHERE rank <= $k""".stripMargin
  }

  /** DuckDB oracle for the SQ rerank serve
    * ([[Index.ivfSqRerankTopKIndexed]]): the SQ shortlist CTEs, then the
    * exact-cosine refine over the shortlisted pairs.
    */
  def ivfSqRerankTopKOracleSql(k: Int, rerank: Int = 0, nCells: Int = 16,
                               nProbe: Int = 4,
                               isQuerySql: String = defaultIsQuerySql,
                               candWhereSql: String = "TRUE"): String =
    s"""WITH ${cellCtesSql(nCells)},
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell
       |  FROM ranks WHERE rnk <= $nProbe AND $isQuerySql),
       |sq AS (
       |  SELECT vec_id,
       |         list_transform(v, x -> floor(x * 127.0 /
       |           (CASE WHEN s = 0 THEN 1.0 ELSE s END) + 0.5)) AS q,
       |         round(CASE WHEN norm = 0 THEN 0.0 ELSE s / norm END, 9) AS r
       |  FROM (SELECT vec_id, v, norm,
       |          list_max(list_transform(v, x -> abs(x))) AS s FROM e)),
       |qs AS (SELECT vec_id AS query_id, q AS qq FROM sq WHERE $isQuerySql),
       |sqscored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         list_dot_product(s2.q, qs.qq) * s2.r AS sqcos
       |  FROM probes p
       |  JOIN assigned a ON a.cell = p.cell
       |  JOIN sq s2 ON s2.vec_id = a.vec_id
       |  JOIN qs ON qs.query_id = p.query_id
       |  WHERE a.vec_id != p.query_id
       |    AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE $candWhereSql)),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |              ORDER BY sqcos DESC, neighbor_id) AS srank
       |    FROM sqscored) WHERE srank <= ${autoRerank(k, rerank)}),
       |q2 AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM e
       |       WHERE $isQuerySql),
       |refined AS (
       |  SELECT s.query_id, s.neighbor_id,
       |         round(${safeCosineSql(
                  "list_dot_product(e.v, q2.qv)", "e.norm", "q2.qnorm")}, 6) AS cosine
       |  FROM short s
       |  JOIN e ON e.vec_id = s.neighbor_id
       |  JOIN q2 ON q2.query_id = s.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM refined)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked
       |WHERE rank <= $k""".stripMargin

  /** The per-plane dot product as an explicit left-assoc SQL sum chain so
    * DuckDB's float order matches Spark's fold exactly.
    */
  private def planeDotSql(v: String, p: Int, dim: Int): String =
    (0 until dim).map(d => s"$v[${d + 1}]*(${planeWeight(p, d).toLong})").mkString(" + ")

  def lshTopKOracleSql(k: Int, nPlanes: Int = 16, bands: Int = 4, dim: Int = 64,
                       isQuerySql: String = defaultIsQuerySql): String = {
    val rows = nPlanes / bands
    val bandRows = (0 until bands).map { b =>
      val key = (0 until rows).map { r =>
        val p = b * rows + r
        s"(CASE WHEN ${planeDotSql("v", p, dim)} > 0 THEN ${1L << r} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, v, norm, $b AS band, $key AS bkey FROM e"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
       |  FROM embeddings),
       |bt AS (
       |  $bandRows),
       |qt AS (SELECT vec_id AS query_id, band, bkey FROM bt WHERE $isQuerySql),
       |cand AS (
       |  SELECT DISTINCT qt.query_id, bt.vec_id, bt.v, bt.norm
       |  FROM bt JOIN qt ON bt.band = qt.band AND bt.bkey = qt.bkey
       |  WHERE bt.vec_id != qt.query_id),
       |q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM e WHERE $isQuerySql),
       |scored AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |         round(${safeCosineSql(
                  "list_dot_product(c.v, q.qv)", "c.norm", "q.qnorm")}, 6) AS cosine
       |  FROM cand c JOIN q USING (query_id)),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= $k""".stripMargin
  }

  /** Random-projection sketch (the Johnson–Lindenstrauss compression
    * path): each vector projected onto `nProj` deterministic md5-derived
    * hyperplanes — the [[planes]] family the LSH index already signs,
    * here kept as real-valued coordinates (a 4×-smaller dense sketch
    * whose pairwise distances approximate the original's). Long-form
    * output (vec_id, j, proj6); dots are strict left-to-right folds on
    * both engines (VecFold vs the explicit left-assoc SQL chain), 6 dp.
    * One linear scan, plane weights live in the plan as literals.
    */
  def randomProjection(emb: DataFrame, nProj: Int = 16, dim: Int = 64): DataFrame = {
    val pls = planes(nProj, dim).map(_.toArray)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val branches = (0 until nProj).map { p =>
      struct(lit(p.toLong).as("j"),
        round(VecFold.dot(col("v"), typedlit(pls(p))), 6).as("proj6"))
    }
    e.select(col("vec_id"), explode(array(branches: _*)).as("pr"))
      .select(col("vec_id"), col("pr.j").as("j"), col("pr.proj6").as("proj6"))
  }

  def randomProjectionOracleSql(nProj: Int = 16, dim: Int = 64): String = {
    val rows = (0 until nProj).map { p =>
      s"SELECT vec_id, $p::BIGINT AS j, " +
        s"round(${planeDotSql("v", p, dim)}, 6) AS proj6 FROM e"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       |$rows""".stripMargin
  }

  /** Top principal component of the embedding corpus by power iteration
    * over an integer-exact Gram matrix — the first step of the
    * PCA/whitening pass an embedding pipeline runs before indexing
    * (dominant-direction removal à la all-but-the-top, matryoshka-cut
    * validation, drift attribution beyond per-dim SMD).
    *
    * Engine-exact in two layers. (1) The Gram matrix C = Σ q qᵀ is
    * computed over GLOBALLY int8-quantized vectors (the [[kmeans]]
    * discipline): its d² entries are exact integer sums — no float
    * accumulation, no order sensitivity — and constant-bounded (d²), so
    * collecting them to the driver is legal at any corpus size. (2) The
    * power iteration runs on those d² exact integers IDENTICALLY on the
    * driver and in the oracle's unrolled CTE chain: each step normalizes
    * x = C·v to unit length BEFORE rounding to 9 dp (values ≤ 1, so the
    * ~1e-15 relative float noise of an unordered 64-term sum sits five
    * orders below the rounding boundary), making every iterate
    * bit-reproducible. Output: one row per dimension
    * (i, loading, evr) — loading = the unit top-eigenvector component
    * (6 dp), evr = Rayleigh eigenvalue over trace(C), the explained-
    * variance share of the top component (same value on every row).
    *
    * Scale shape: one linear scan for the global scale, one n·d² map-side
    * partial-sum aggregation into d² cells (the covariance cost every
    * distributed PCA pays), and O(iters·d²) driver arithmetic on a
    * constant-size matrix. No corpus-sized shuffle beyond the cell agg.
    */
  def pcaTop(emb: DataFrame, iters: Int = 12): DataFrame = {
    val spark = emb.sparkSession
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val scaleRow = base.agg(max(VecQuant.maxAbs(col("v")))).head()
    require(!scaleRow.isNullAt(0),
      "pcaTop: empty embedding corpus — no principal component to compute")
    val scale = scaleRow.getDouble(0)
    // an all-zero corpus would give scale 0 -> NaN quantization and a
    // meaningless zero Gram matrix; refuse rather than emit NaN loadings
    require(scale > 0,
      "pcaTop: all-zero embedding corpus (global max-abs scale is 0)")
    val q = base.select(col("vec_id"),
      posexplode(VecQuant.sqQuantLongs(col("v"), lit(scale)))
        .as(Seq("i", "qi")))
    val cells = q
      .join(q.select(col("vec_id"), col("i").as("j"), col("qi").as("qj")),
        "vec_id")
      .groupBy("i", "j").agg(sum(col("qi") * col("qj")).as("cij"))
      .collect() // d² rows — constant-bounded, corpus-independent
    val d = cells.iterator.map(_.getInt(0)).max + 1
    val c = Array.ofDim[Double](d, d)
    cells.foreach(r => c(r.getInt(0))(r.getInt(1)) = r.getLong(2).toDouble)
    def round9(x: Double): Double = math.floor(x * 1e9 + 0.5) / 1e9
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(j)).sum)
    var v = Array.fill(d)(round9(1.0 / math.sqrt(d.toDouble)))
    for (_ <- 1 to iters) {
      val x = matvec(v)
      val norm = math.sqrt(x.map(xi => xi * xi).sum)
      v = x.map(xi => round9(xi / norm))
    }
    val y = matvec(v)
    val lambda = (0 until d).map(i => v(i) * y(i)).sum
    val trace = (0 until d).map(i => c(i)(i)).sum
    val evr = lambda / trace
    import spark.implicits._
    (0 until d).map(i =>
        (i.toLong, math.floor(v(i) * 1e6 + 0.5) / 1e6,
          math.floor(evr * 1e6 + 0.5) / 1e6))
      .toDF("i", "loading", "evr")
  }

  /** All-but-the-top projection coefficients: each vector's scalar
    * projection onto the corpus's top principal component ([[pcaTop]]'s
    * unit vector u), plus the residual norm after removing that
    * component — the postprocessing step (Mu & Viswanath, "All-but-the-
    * Top") that strips the dominant common direction before similarity
    * search, and the per-vector attribution of [[snapshotDrift]]'s
    * corpus-level signal.
    *
    * The component u is driver-computed by [[pcaTop]]'s constant-size
    * iteration and enters the scan as a LITERAL vector — one linear pass
    * over the corpus, no join, no shuffle. coeff = v·u (6 dp);
    * residual2 = |v|² − coeff², 6 dp (≥ 0 up to the 1e-6 rounding of u's
    * components, whose norm is 1 only to that precision).
    * Output: (vec_id, coeff, residual2).
    */
  def pcaProject(emb: DataFrame, iters: Int = 12): DataFrame = {
    val u = pcaTop(emb, iters).orderBy("i")
      .select("loading").collect().map(_.getDouble(0)) // d rows — bounded
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val coeff = VecFold.dot(col("v"), typedlit(u.toSeq))
    e.select(col("vec_id"), round(coeff, 6).as("coeff"),
      round(VecFold.dot(col("v"), col("v")) - coeff * coeff, 6).as("residual2"))
  }

  /** Oracle for [[pcaProject]]: the pcaTop CTE chain rebuilds u, then one
    * projection scan. list_dot_product is an unordered fold while VecFold
    * is strict left-to-right, but both operands are ≤ 64 exact-literal
    * components — the ulp divergence sits far below the 6 dp rounding.
    */
  def pcaProjectOracleSql(iters: Int = 12): String =
    s"""WITH u AS MATERIALIZED (
       |  SELECT i, loading FROM (${pcaTopOracleSql(iters)})),
       |uvec AS (SELECT list(loading ORDER BY i) AS u FROM u),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       |SELECT vec_id,
       |       round(list_dot_product(v, (SELECT u FROM uvec)), 6) AS coeff,
       |       round(list_dot_product(v, v) -
       |             list_dot_product(v, (SELECT u FROM uvec)) *
       |             list_dot_product(v, (SELECT u FROM uvec)), 6) AS residual2
       |FROM e""".stripMargin

  def pcaTopOracleSql(iters: Int = 12): String = {
    val header =
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |s AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS scale FROM e),
         |q AS (
         |  SELECT vec_id, i,
         |         floor(v[i] * 127.0 / (SELECT scale FROM s) + 0.5)::BIGINT AS qi
         |  FROM e, unnest(range(1, len(v) + 1)) AS r(i)),
         |-- MATERIALIZED: c is referenced by every unrolled iteration; the
         |-- default CTE inlining would re-run the parquet scan + self-join
         |-- per reference (measured: "Too many open files" at 12 iters)
         |c AS MATERIALIZED (
         |  SELECT a.i AS i, b.i AS j, sum(a.qi * b.qi)::BIGINT AS cij
         |  FROM q a JOIN q b USING (vec_id) GROUP BY 1, 2),
         |dims AS (SELECT DISTINCT i FROM q),
         |v0 AS (
         |  SELECT i,
         |         floor(1.0 / sqrt((SELECT count(*) FROM dims)) * 1e9 + 0.5)/1e9 AS x
         |  FROM dims)""".stripMargin
    // every step MATERIALIZED: v_t references x_t twice (directly and via
    // the norm scalar subquery), so default inlining re-expands the chain
    // 2^t times — exponential scans of the base table at 12 iterations
    val steps = (1 to iters).map { t =>
      s"""x$t AS MATERIALIZED (
         |  SELECT c.i, sum(c.cij * p.x) AS x
         |  FROM c JOIN v${t - 1} p ON c.j = p.i GROUP BY c.i),
         |n$t AS (SELECT sqrt(sum(x * x)) AS nrm FROM x$t),
         |v$t AS MATERIALIZED (
         |  SELECT i, floor(x / (SELECT nrm FROM n$t) * 1e9 + 0.5)/1e9 AS x
         |  FROM x$t)""".stripMargin
    }.mkString(",\n")
    s"""$header,
       |$steps,
       |y AS (
       |  SELECT c.i, sum(c.cij * p.x) AS y
       |  FROM c JOIN v$iters p ON c.j = p.i GROUP BY c.i),
       |lam AS (
       |  SELECT sum(v.x * y.y) AS l FROM v$iters v JOIN y USING (i)),
       |tr AS (SELECT sum(cij)::DOUBLE AS t FROM c WHERE i = j)
       |SELECT (v.i - 1)::BIGINT AS i,
       |       floor(v.x * 1e6 + 0.5)/1e6 AS loading,
       |       floor((SELECT l FROM lam) / (SELECT t FROM tr) * 1e6 + 0.5)/1e6
       |         AS evr
       |FROM v$iters v""".stripMargin
  }

  /** Distributed Lloyd k-means over the embedding corpus — the iterative
    * clustering step the seed-codebook quantizers ([[ivfTopK]],
    * [[pqCodes]]) deliberately skip, and the backbone of cluster-scoped
    * curation (SemDeDup partitions, per-cluster sampling). Reference
    * scope: the trend engine's WDT library is a hand-labeled codebook
    * (`analysis.py` / config `library` mode); k-means is the unsupervised
    * construction of such a codebook at corpus scale.
    *
    * Engine-exact by integer quantization: vectors are scaled once by the
    * GLOBAL max |x| (one exact max aggregate — no float summation) to
    * int8-range longs; every Lloyd step is then integer math. Distances
    * are exact int64 sums, and the centroid update is
    * `floor(double(sum)/double(count))` — sums stay far below 2^53, so
    * both engines compute bit-identical centroids and the DuckDB oracle
    * can replay all `iters` rounds CTE-by-CTE. Ties in the argmin break
    * on the smaller cluster id; a cluster that goes empty keeps its
    * previous centroid.
    *
    * Scale shape (the MLlib k-means plan): per iteration, ONE linear scan
    * assigns against broadcast centroids (k·dim longs — constant-bounded)
    * and ONE map-side-combined groupBy of k·dim cells recomputes them;
    * the only driver materialization is that k·dim cell table. No joins,
    * no per-row state. Output: (vec_id, cluster, dist2) from the final
    * assignment pass.
    */
  /** The quantized input table + global scale the integer-Lloyd family
    * shares: (vec_id, q) with q = floor(v·127/scale + 0.5), materialized
    * once (seeds, every update round, and the final assignment all scan
    * it).
    */
  private def kmeansQuantized(emb: DataFrame): (DataFrame, Double) = {
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val scale = base.agg(max(VecQuant.maxAbs(col("v")))).head().getDouble(0)
    val q = base.select(col("vec_id"),
        VecQuant.sqQuantLongs(col("v"), lit(scale)).as("q"))
      .lineageCut
    (q, scale)
  }

  /** The per-round assignment pass of [[kmeans]]: integer argmin against
    * broadcast centroids, strict < so ties keep the lower cluster id.
    */
  private def kmeansAssigned(q: DataFrame,
                             cents: Array[Array[Long]]): DataFrame = {
    val bc = q.sparkSession.sparkContext.broadcast(cents)
    // native expression, not a udf: same kernel, primitive array input
    // instead of a boxed Seq[Long] per row per round
    val assign = org.apache.spark.sql.graft.GraftShim.column(
      graft.functions.KmeansAssign(
        org.apache.spark.sql.graft.GraftShim.expression(col("q")), bc))
    q.withColumn("a", assign)
      .select(col("vec_id"), col("a._1").as("cluster"), col("a._2").as("dist2"),
        col("q"))
  }

  /** The Lloyd loop alone: `iters−1` centroid updates from the seed set
    * (k·dim cells per round, map-side partial agg, tiny collect; an
    * empty cluster keeps its previous centroid). Returns the FINAL
    * integer centroids — what the last assignment pass ranks against.
    */
  private def kmeansCentsFrom(q: DataFrame, k: Int,
                              iters: Int): Array[Array[Long]] = {
    var cents: Array[Array[Long]] = q.orderBy("vec_id").limit(k)
      .select("q").collect().map(_.getSeq[Long](0).toArray)
    for (_ <- 1 to iters - 1) {
      val cells = kmeansAssigned(q, cents)
        .select(col("cluster"), posexplode(col("q")).as(Seq("i", "qi")))
        .groupBy("cluster", "i")
        .agg(floor(sum("qi").cast("double") / count(lit(1)).cast("double"))
          .cast("long").as("ci"))
        .collect()
      val next = cents.map(_.clone()) // empty cluster keeps previous centroid
      cells.foreach { r =>
        next(r.getLong(0).toInt)(r.getInt(1)) = r.getLong(2)
      }
      cents = next
    }
    cents
  }

  def kmeans(emb: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val (q, _) = kmeansQuantized(emb)
    val cents = kmeansCentsFrom(q, k, iters)
    kmeansAssigned(q, cents).select(col("vec_id"), col("cluster"), col("dist2"))
  }

  /** The TRAINED coarse quantizer as a centroid table: [[kmeans]]'s final
    * integer centroids dequantized back to the embedding's double space
    * (cv = ci·scale/127 — exact double arithmetic, replayed identically
    * by the oracle). Output (cid, cv, cn) — the exact shape
    * [[Index.saveIvf]] persists and [[withCellRanks]]' `seedFrom`
    * consumes, so swapping trained centroids for the smallest-id seeds
    * changes nothing downstream (the swap the [[pqCodes]] doc promises).
    */
  def kmeansCentroids(emb: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (q, scale) = kmeansQuantized(emb)
    val cents = kmeansCentsFrom(q, k, iters)
    cents.zipWithIndex.map { case (cv, cid) =>
      val dv = cv.map(ci => ci * scale / 127.0).toSeq
      (cid.toLong, dv, math.sqrt(dv.map(x => x * x).sum))
    }.toSeq.toDF("cid", "cv", "cn")
  }

  /** PQ codebook TRAINING: per-subspace Lloyd k-means — the step a real
    * product quantizer runs before indexing, upgrading [[pqCodes]]'s
    * seed codebooks to centroids that actually minimize within-subspace
    * distortion. All `nSub` subspace clusterings run in ONE distributed
    * computation per round (the table is keyed by (vec_id, sub); the
    * assignment argmin is per sub against that sub's codebook), with the
    * same integer-exact discipline as [[kmeans]]: one global max-abs
    * quantization scale, integer squared distances, floor-of-mean
    * updates, empty codes keep their previous centroid — so the DuckDB
    * oracle replays every round hash-exactly. Driver state per round is
    * the nSub·nCode·subDim centroid table (constant). Output: the
    * trained per-vector codes (vec_id, sub, code, d2) — smaller d2 than
    * the seed assignment by construction after round 1.
    */
  /** The quantized subvector table the PQ-Lloyd family shares:
    * (vec_id, sub, qs[subDim]), materialized once; plus the global scale
    * and subspace width.
    */
  private def pqQuantized(emb: DataFrame, nSub: Int)
      : (DataFrame, Double, Int) = {
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val scale = base.agg(max(VecQuant.maxAbs(col("v")))).head().getDouble(0)
    val dim = base.select(size(col("v"))).head().getInt(0)
    require(dim % nSub == 0, s"dim $dim not divisible by nSub $nSub")
    val subDim = dim / nSub
    val q = base.select(col("vec_id"),
        VecQuant.sqQuantLongs(col("v"), lit(scale)).as("qfull"))
      .select(col("vec_id"), explode(typedlit((0 until nSub).map(_.toLong))).as("sub"),
        col("qfull"))
      .select(col("vec_id"), col("sub"),
        slice(col("qfull"), col("sub").cast("int") * subDim + 1, lit(subDim)).as("qs"))
      .lineageCut
    (q, scale, subDim)
  }

  /** Per-round PQ assignment: per-sub integer argmin against the
    * broadcast codebook, strict < so ties keep the lower code id.
    */
  private def pqAssigned(q: DataFrame,
                         cents: Array[Array[Array[Long]]]): DataFrame = {
    val bc = q.sparkSession.sparkContext.broadcast(cents)
    // native expression, not a udf: same kernel, primitive array input
    // instead of a boxed Seq[Long] per row per round
    val assign = org.apache.spark.sql.graft.GraftShim.column(
      graft.functions.PqAssign(
        org.apache.spark.sql.graft.GraftShim.expression(col("sub")),
        org.apache.spark.sql.graft.GraftShim.expression(col("qs")), bc))
    q.withColumn("a", assign)
      .select(col("vec_id"), col("sub"), col("a._1").as("code"),
        col("a._2").as("d2"), col("qs"))
  }

  /** The per-subspace Lloyd loop alone: seeds from the nCode smallest-id
    * vectors' subvectors, `iters−1` floor-of-mean updates (empty codes
    * keep their previous centroid). Returns the FINAL integer codebooks,
    * indexed [sub][code].
    */
  private def pqCentsFrom(q: DataFrame, nSub: Int, nCode: Int,
                          iters: Int): Array[Array[Array[Long]]] = {
    // seed ids via per-sub min: q carries nSub rows per vec_id, and a
    // corpus-wide distinct here would be an avoidable shuffle
    val seedIds = q.where(col("sub") === 0).select("vec_id")
      .orderBy("vec_id").limit(nCode)
      .collect().map(_.getLong(0))
    var cents: Array[Array[Array[Long]]] = {
      val rows = q.where(col("vec_id").isin(seedIds.toSeq: _*))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
      val idRank = seedIds.sorted.zipWithIndex.toMap
      val a = Array.ofDim[Array[Long]](nSub, nCode)
      rows.foreach { case (vid, s, qs) => a(s.toInt)(idRank(vid)) = qs }
      a
    }
    for (_ <- 1 to iters - 1) {
      val cells = pqAssigned(q, cents)
        .select(col("sub"), col("code"), posexplode(col("qs")).as(Seq("si", "qi")))
        .groupBy("sub", "code", "si")
        .agg(floor(sum("qi").cast("double") / count(lit(1)).cast("double"))
          .cast("long").as("ci"))
        .collect()
      val next = cents.map(_.map(_.clone())) // empty code keeps previous
      cells.foreach { r =>
        next(r.getLong(0).toInt)(r.getLong(1).toInt)(r.getInt(2)) = r.getLong(3)
      }
      cents = next
    }
    cents
  }

  def pqTrain(emb: DataFrame, nSub: Int = 8, nCode: Int = 16,
              iters: Int = 3): DataFrame = {
    val (q, _, _) = pqQuantized(emb, nSub)
    val cents = pqCentsFrom(q, nSub, nCode, iters)
    pqAssigned(q, cents).select(col("vec_id"), col("sub"), col("code"), col("d2"))
  }

  /** The TRAINED PQ codebook as a codeword table: [[pqTrain]]'s final
    * integer codebooks dequantized back to double space
    * (cw = ci·scale/127). Output (sub, code, cw) — the exact shape
    * [[Index.saveIvfPq]] persists and its encode/ADC paths consume, so a
    * trained build swaps the seed codebooks for k-means ones with every
    * shape downstream unchanged (the swap [[pqCodes]]' doc promises).
    */
  def pqTrainCodebook(emb: DataFrame, nSub: Int = 8, nCode: Int = 16,
                      iters: Int = 3): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (q, scale, _) = pqQuantized(emb, nSub)
    val cents = pqCentsFrom(q, nSub, nCode, iters)
    (for {
      m <- 0 until nSub
      c <- 0 until nCode
    } yield (m.toLong, c.toLong,
        cents(m)(c).map(ci => ci * scale / 127.0).toSeq))
      .toDF("sub", "code", "cw")
  }

  /** CTE-by-CTE replay of [[pqTrain]]: the kmeans chain with every stage
    * additionally keyed by `sub` (i maps to (sub, si)); seeds rank the
    * nCode smallest vec_ids per sub, assignments argmin per (vec_id,
    * sub), updates coalesce per (sub, code, si).
    */
  def pqTrainOracleSql(nSub: Int = 8, nCode: Int = 16, iters: Int = 3,
                       dim: Int = 64): String = {
    val subDim = dim / nSub
    val header =
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |s AS (
         |  SELECT max(list_max(list_transform(v, x -> abs(x)))) AS scale FROM e),
         |q AS (
         |  SELECT vec_id, (i - 1) // $subDim AS sub, (i - 1) % $subDim + 1 AS si,
         |         floor(v[i] * 127.0 / (SELECT scale FROM s) + 0.5)::BIGINT AS qi
         |  FROM e, unnest(range(1, len(v) + 1)) AS r(i)),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, vec_id
         |  FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT $nCode)),
         |cent0 AS (
         |  SELECT q.sub, s.code, q.si, q.qi AS ci
         |  FROM seeds s JOIN q USING (vec_id))""".stripMargin
    val rounds = (1 to iters).map { t =>
      val prev = s"cent${t - 1}"
      val asg =
        s"""d$t AS (
           |  SELECT q.vec_id, q.sub, c.code,
           |         sum((q.qi - c.ci) * (q.qi - c.ci))::BIGINT AS d2
           |  FROM q JOIN $prev c ON q.sub = c.sub AND q.si = c.si
           |  GROUP BY 1, 2, 3),
           |a$t AS (
           |  SELECT vec_id, sub, code, d2 FROM (
           |    SELECT *, row_number() OVER (
           |      PARTITION BY vec_id, sub ORDER BY d2, code) AS rn FROM d$t)
           |  WHERE rn = 1)""".stripMargin
      if (t == iters) asg
      else
        asg + s""",
           |cent$t AS (
           |  SELECT p.sub, p.code, p.si, coalesce(n.ci, p.ci) AS ci
           |  FROM $prev p LEFT JOIN (
           |    SELECT a.sub, a.code, q.si,
           |           floor(sum(q.qi)::DOUBLE / count(*)::DOUBLE)::BIGINT AS ci
           |    FROM a$t a JOIN q ON a.vec_id = q.vec_id AND a.sub = q.sub
           |    GROUP BY 1, 2, 3) n
           |  USING (sub, code, si))""".stripMargin
    }.mkString(",\n")
    s"""$header,
       |$rounds
       |SELECT vec_id, sub, code, d2 FROM a$iters""".stripMargin
  }

  /** CTE-by-CTE replay of [[kmeans]]: quantize, seed, then per iteration
    * an assignment (argmin over an i-join, tie on cluster id) and a
    * coalesced centroid update (LEFT JOIN keeps empty clusters' previous
    * centroids). All-integer, so hash-exact vs the Spark plan.
    */
  def kmeansOracleSql(k: Int = 8, iters: Int = 3): String = {
    val header =
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |s AS (
         |  SELECT max(list_max(list_transform(v, x -> abs(x)))) AS scale FROM e),
         |q AS (
         |  SELECT vec_id, i,
         |         floor(v[i] * 127.0 / (SELECT scale FROM s) + 0.5)::BIGINT AS qi
         |  FROM e, unnest(range(1, len(v) + 1)) AS r(i)),
         |seeds AS (
         |  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS cluster,
         |         vec_id
         |  FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT $k)),
         |cent0 AS (
         |  SELECT s.cluster, q.i, q.qi AS ci FROM seeds s JOIN q USING (vec_id))""".stripMargin
    val rounds = (1 to iters).map { t =>
      val prev = s"cent${t - 1}"
      val asg =
        s"""d$t AS (
           |  SELECT q.vec_id, c.cluster,
           |         sum((q.qi - c.ci) * (q.qi - c.ci))::BIGINT AS d2
           |  FROM q JOIN $prev c USING (i) GROUP BY 1, 2),
           |a$t AS (
           |  SELECT vec_id, cluster, d2 FROM (
           |    SELECT *, row_number() OVER (
           |      PARTITION BY vec_id ORDER BY d2, cluster) AS rn FROM d$t)
           |  WHERE rn = 1)""".stripMargin
      if (t == iters) asg
      else
        asg + s""",
           |cent$t AS (
           |  SELECT p.cluster, p.i, coalesce(n.ci, p.ci) AS ci
           |  FROM $prev p LEFT JOIN (
           |    SELECT a.cluster, q.i,
           |           floor(sum(q.qi)::DOUBLE / count(*)::DOUBLE)::BIGINT AS ci
           |    FROM a$t a JOIN q USING (vec_id) GROUP BY 1, 2) n
           |  USING (cluster, i))""".stripMargin
    }.mkString(",\n")
    s"""$header,
       |$rounds
       |SELECT vec_id, cluster, d2 AS dist2 FROM a$iters""".stripMargin
  }
  /** CTE chain replaying the [[kmeansCentroids]] TRAINING (assumes a CTE
    * `e(vec_id, v, …)` is already defined): the kmeansOracleSql rounds,
    * km-prefixed, ending in `tcents(cid, cv)` — the final integer
    * centroids dequantized to double space exactly as the Spark side
    * does (ci·scale/127).
    */
  private[ml] def kmeansCentroidCtesSql(k: Int, iters: Int = 3): String = {
    val header =
      s"""kms AS (
         |  SELECT max(list_max(list_transform(v, x -> abs(x)))) AS scale FROM e),
         |kmq AS (
         |  SELECT vec_id, i,
         |         floor(v[i] * 127.0 / (SELECT scale FROM kms) + 0.5)::BIGINT AS qi
         |  FROM e, unnest(range(1, len(v) + 1)) AS r(i)),
         |kmseeds AS (
         |  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS cluster,
         |         vec_id
         |  FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT $k)),
         |kmcent0 AS (
         |  SELECT s.cluster, q.i, q.qi AS ci
         |  FROM kmseeds s JOIN kmq q USING (vec_id))""".stripMargin
    val rounds = (1 until iters).map { t =>
      val prev = s"kmcent${t - 1}"
      s"""kmd$t AS (
         |  SELECT q.vec_id, c.cluster,
         |         sum((q.qi - c.ci) * (q.qi - c.ci))::BIGINT AS d2
         |  FROM kmq q JOIN $prev c USING (i) GROUP BY 1, 2),
         |kma$t AS (
         |  SELECT vec_id, cluster FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2, cluster) AS rn FROM kmd$t)
         |  WHERE rn = 1),
         |kmcent$t AS (
         |  SELECT p.cluster, p.i, coalesce(n.ci, p.ci) AS ci
         |  FROM $prev p LEFT JOIN (
         |    SELECT a.cluster, q.i,
         |           floor(sum(q.qi)::DOUBLE / count(*)::DOUBLE)::BIGINT AS ci
         |    FROM kma$t a JOIN kmq q USING (vec_id) GROUP BY 1, 2) n
         |  USING (cluster, i))""".stripMargin
    }.mkString(",\n")
    val body = if (iters > 1) s"$header,\n$rounds" else header
    s"""$body,
       |tcents AS (
       |  SELECT cluster AS cid,
       |         list(ci * (SELECT scale FROM kms) / 127.0 ORDER BY i) AS cv
       |  FROM kmcent${iters - 1} GROUP BY cluster)""".stripMargin
  }

  /** CTE chain replaying the [[pqTrainCodebook]] TRAINING (assumes `e`):
    * the pqTrainOracleSql rounds, pq-prefixed, ending in
    * `tcw(sub, code, cw)` — the final integer codebooks dequantized.
    */
  private[ml] def pqCodebookCtesSql(nSub: Int = 8, nCode: Int = 16,
                                    iters: Int = 3, dim: Int = 64,
                                    src: String = "e"): String = {
    val subDim = dim / nSub
    val header =
      s"""pqs AS (
         |  SELECT max(list_max(list_transform(v, x -> abs(x)))) AS scale FROM $src),
         |pqq AS (
         |  SELECT vec_id, (i - 1) // $subDim AS sub, (i - 1) % $subDim + 1 AS si,
         |         floor(v[i] * 127.0 / (SELECT scale FROM pqs) + 0.5)::BIGINT AS qi
         |  FROM $src, unnest(range(1, len(v) + 1)) AS r(i)),
         |pqseeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, vec_id
         |  FROM (SELECT vec_id FROM $src ORDER BY vec_id LIMIT $nCode)),
         |pqcent0 AS (
         |  SELECT q.sub, s.code, q.si, q.qi AS ci
         |  FROM pqseeds s JOIN pqq q USING (vec_id))""".stripMargin
    val rounds = (1 until iters).map { t =>
      val prev = s"pqcent${t - 1}"
      s"""pqd$t AS (
         |  SELECT q.vec_id, q.sub, c.code,
         |         sum((q.qi - c.ci) * (q.qi - c.ci))::BIGINT AS d2
         |  FROM pqq q JOIN $prev c ON q.sub = c.sub AND q.si = c.si
         |  GROUP BY 1, 2, 3),
         |pqa$t AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY d2, code) AS rn FROM pqd$t)
         |  WHERE rn = 1),
         |pqcent$t AS (
         |  SELECT p.sub, p.code, p.si, coalesce(n.ci, p.ci) AS ci
         |  FROM $prev p LEFT JOIN (
         |    SELECT a.sub, a.code, q.si,
         |           floor(sum(q.qi)::DOUBLE / count(*)::DOUBLE)::BIGINT AS ci
         |    FROM pqa$t a JOIN pqq q ON a.vec_id = q.vec_id AND a.sub = q.sub
         |    GROUP BY 1, 2, 3) n
         |  USING (sub, code, si))""".stripMargin
    }.mkString(",\n")
    val body = if (iters > 1) s"$header,\n$rounds" else header
    s"""$body,
       |tcw AS (
       |  SELECT sub, code,
       |         list(ci * (SELECT scale FROM pqs) / 127.0 ORDER BY si) AS cw
       |  FROM pqcent${iters - 1} GROUP BY sub, code)""".stripMargin
  }

  /** The trained-centroid override for [[cellCtesSql]]'s `centsSql`. */
  private def trainedCentsSql: String =
    "SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM tcents"

  /** Explicit left-assoc subspace L2 with the sub index as a COLUMN
    * (`subCol`) — fixed evaluation order, so both engines' float sums
    * agree bit-for-bit before the 9-dp rounding.
    */
  private def subD2Sql(vExpr: String, cwExpr: String, subCol: String,
                       subDim: Int): String =
    (0 until subDim).map { d =>
      val vi = s"$vExpr[$subCol * $subDim + ${d + 1}]"
      s"($vi - $cwExpr[${d + 1}]) * ($vi - $cwExpr[${d + 1}])"
    }.mkString(" + ")

  /** Oracle for the TRAINED IVF-Flat serve ([[Index.saveIvf]] with
    * `trained = true` + [[Index.ivfTopKIndexed]]): the seeded ivfTopK
    * chain with the centroid CTE swapped for the kmeans-replay result.
    */
  def ivfTopKTrainedOracleSql(k: Int, nCells: Int = 16, nProbe: Int = 4,
                              iters: Int = 3,
                              isQuerySql: String = defaultIsQuerySql): String =
    s"""WITH ${ivfScoredCtesSql(nCells, nProbe, isQuerySql,
          centsSql = Some(trainedCentsSql),
          preCtesSql = Some(kmeansCentroidCtesSql(nCells, iters)))},
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= $k""".stripMargin

  /** Oracle for the TRAINED IVF-PQ serve ([[Index.saveIvfPq]] with
    * `trained = true` + [[Index.ivfPqTopKIndexed]]): kmeans-replay
    * coarse centroids, pqTrain-replay codebooks, codes re-derived by the
    * encode-against-codebook semantics (9-dp-rounded double-space
    * subspace L2, ties to the smaller code id), per-query integer ADC.
    */
  def ivfPqTopKTrainedOracleSql(k: Int, nCells: Int = 16, nProbe: Int = 4,
                                nSub: Int = 8, nCode: Int = 16,
                                dim: Int = 64, iters: Int = 3,
                                isQuerySql: String = defaultIsQuerySql): String = {
    val subDim = dim / nSub
    val codeD2 = subD2Sql("e.v", "c.cw", "c.sub", subDim)
    val lutD2 = subD2Sql("q.v", "c.cw", "c.sub", subDim)
    s"""WITH ${cellCtesSql(nCells,
          centsSql = Some(trainedCentsSql),
          preCtesSql = Some(kmeansCentroidCtesSql(nCells, iters) + ",\n" +
            pqCodebookCtesSql(nSub, nCode, iters, dim)))},
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell
       |  FROM ranks WHERE rnk <= $nProbe AND $isQuerySql),
       |q AS (SELECT vec_id, v FROM e WHERE $isQuerySql),
       |cd0 AS (
       |  SELECT e.vec_id, c.sub, c.code, ($codeD2) AS d2
       |  FROM e, tcw c),
       |codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |       ORDER BY floor(d2 * 1e9 + 0.5) / 1e9, code) AS rn FROM cd0)
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT q.vec_id AS query_id, c.sub, c.code,
       |         floor(($lutD2) * 1e9 + 0.5)::BIGINT AS d2i
       |  FROM q, tcw c),
       |cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM probes p JOIN assigned a ON a.cell = p.cell
       |  WHERE a.vec_id != p.query_id),
       |adc AS (
       |  SELECT cd.query_id, cd.vec_id AS neighbor_id,
       |         sum(l.d2i)::BIGINT AS adc_e9
       |  FROM cand cd
       |  JOIN codes co ON co.vec_id = cd.vec_id
       |  JOIN lut l ON l.query_id = cd.query_id
       |            AND l.sub = co.sub AND l.code = co.code
       |  GROUP BY cd.query_id, cd.vec_id),
       |rankedq AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY adc_e9, neighbor_id) AS rank
       |  FROM adc)
       |SELECT query_id, neighbor_id, adc_e9, rank
       |FROM rankedq WHERE rank <= $k""".stripMargin
  }

  /** Recall@k of the trained-store IVF-PQ serve against the exact
    * ranking — the number that prices what quantizer training buys over
    * the seed codebooks (compare [[ivfPqRecall]]).
    */
  def ivfPqTrainedRecallOracleSql(k: Int): String =
    recallOracleSql(bruteForceTopKOracleSql(k), ivfPqTopKTrainedOracleSql(k), k)

  /** Oracle for the RESIDUAL-coded IVF-PQ serve ([[Index.saveIvfPq]]
    * with `residual = true` + [[Index.ivfPqTopKIndexed]]): kmeans-replay
    * coarse centroids, residual table (v − assigned centroid),
    * pqTrain-replay codebooks TRAINED ON THE RESIDUALS, codes re-derived
    * by the encode semantics over residuals, and the per-(query, probed
    * cell) residual ADC lookup — the FAISS-IVFPQ coding, CTE-replayed.
    */
  def ivfPqResidualTopKOracleSql(k: Int, nCells: Int = 16, nProbe: Int = 4,
                                 nSub: Int = 8, nCode: Int = 16,
                                 dim: Int = 64, iters: Int = 3,
                                 isQuerySql: String = defaultIsQuerySql): String = {
    val subDim = dim / nSub
    val codeD2 = subD2Sql("r.v", "c.cw", "c.sub", subDim)
    val lutD2 = subD2Sql("qr.rv", "c.cw", "c.sub", subDim)
    s"""WITH ${cellCtesSql(nCells,
          centsSql = Some(trainedCentsSql),
          preCtesSql = Some(kmeansCentroidCtesSql(nCells, iters)))},
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1),
       |resid AS (
       |  SELECT e.vec_id, [e.v[i] - t.cv[i] FOR i IN range(1, len(e.v) + 1)] AS v
       |  FROM e JOIN assigned a USING (vec_id) JOIN tcents t ON t.cid = a.cell),
       |${pqCodebookCtesSql(nSub, nCode, iters, dim, src = "resid")},
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell
       |  FROM ranks WHERE rnk <= $nProbe AND $isQuerySql),
       |q AS (SELECT vec_id, v FROM e WHERE $isQuerySql),
       |cd0 AS (
       |  SELECT r.vec_id, c.sub, c.code, ($codeD2) AS d2
       |  FROM resid r, tcw c),
       |codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
       |       ORDER BY floor(d2 * 1e9 + 0.5) / 1e9, code) AS rn FROM cd0)
       |  WHERE rn = 1),
       |qr AS (
       |  SELECT p.query_id, p.cell,
       |         [q.v[i] - t.cv[i] FOR i IN range(1, len(q.v) + 1)] AS rv
       |  FROM probes p JOIN q ON q.vec_id = p.query_id
       |  JOIN tcents t ON t.cid = p.cell),
       |lut AS (
       |  SELECT qr.query_id, qr.cell, c.sub, c.code,
       |         floor(($lutD2) * 1e9 + 0.5)::BIGINT AS d2i
       |  FROM qr, tcw c),
       |cand AS (
       |  SELECT p.query_id, p.cell, a.vec_id
       |  FROM probes p JOIN assigned a ON a.cell = p.cell
       |  WHERE a.vec_id != p.query_id),
       |adc AS (
       |  SELECT cd.query_id, cd.vec_id AS neighbor_id,
       |         sum(l.d2i)::BIGINT AS adc_e9
       |  FROM cand cd
       |  JOIN codes co ON co.vec_id = cd.vec_id
       |  JOIN lut l ON l.query_id = cd.query_id AND l.cell = cd.cell
       |            AND l.sub = co.sub AND l.code = co.code
       |  GROUP BY cd.query_id, cd.vec_id),
       |rankedq AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY adc_e9, neighbor_id) AS rank
       |  FROM adc)
       |SELECT query_id, neighbor_id, adc_e9, rank
       |FROM rankedq WHERE rank <= $k""".stripMargin
  }

  /** Recall@k of the residual-coded serve against the exact ranking —
    * what residual coding buys over [[ivfPqTrainedRecallOracleSql]]'s
    * absolute coding at the same code budget.
    */
  def ivfPqResidualRecallOracleSql(k: Int): String =
    recallOracleSql(bruteForceTopKOracleSql(k), ivfPqResidualTopKOracleSql(k), k)

  /** Public wrapper over [[recallVs]] for recall evals whose approx side
    * is a persisted-store serve assembled by the caller (e.g. the
    * trained-quantizer A/B).
    */
  def recallOf(exact: DataFrame, approx: DataFrame, k: Int): DataFrame =
    recallVs(exact, approx, k)

  /** Per-dimension distribution drift between two corpus snapshots —
    * the monitoring pass a vector-index deployment runs on every refresh
    * (embedding-model regressions and ingestion bugs show up as mean
    * shifts long before recall degrades). Snapshots are selected by
    * `isNew`: A = standing corpus, B = the refresh. Output per dimension
    * i: (i, mean_a, mean_b, delta, smd) where smd is the standardized
    * mean difference |mean_a − mean_b| / sqrt((var_a + var_b) / 2) — the
    * scale-free effect size (0 = no drift). One linear scan + posexplode;
    * the aggregate is 2·dim cells, shuffle is dim-bounded.
    */
  def snapshotDrift(emb: DataFrame, isNew: Column): DataFrame = {
    val e = emb.select(isNew.cast("int").as("snap_b"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("i", "x")))
      .groupBy(col("i").cast("long").as("i"))
      .agg(
        avg(when(col("snap_b") === 0, col("x"))).as("ma"),
        avg(when(col("snap_b") === 1, col("x"))).as("mb"),
        var_pop(when(col("snap_b") === 0, col("x"))).as("va"),
        var_pop(when(col("snap_b") === 1, col("x"))).as("vb"))
    e.select(col("i"),
      round(col("ma"), 6).as("mean_a"),
      round(col("mb"), 6).as("mean_b"),
      round(col("mb") - col("ma"), 6).as("delta"),
      round(abs(col("mb") - col("ma")) /
        sqrt((col("va") + col("vb")) / 2.0), 6).as("smd"))
  }

  /** DuckDB twin of [[snapshotDrift]]. `isNewSql` must classify rows
    * identically to the Spark predicate. */
  def snapshotDriftOracleSql(
      isNewSql: String = "((vec_id % 2) + 2) % 2 = 1"): String =
    s"""WITH x AS (
       |  SELECT CASE WHEN $isNewSql THEN 1 ELSE 0 END AS snap_b,
       |         (i - 1)::BIGINT AS i, v[i] AS x
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |       unnest(range(1, len(v) + 1)) AS r(i)),
       |g AS (
       |  SELECT i,
       |         avg(CASE WHEN snap_b = 0 THEN x END) AS ma,
       |         avg(CASE WHEN snap_b = 1 THEN x END) AS mb,
       |         var_pop(CASE WHEN snap_b = 0 THEN x END) AS va,
       |         var_pop(CASE WHEN snap_b = 1 THEN x END) AS vb
       |  FROM x GROUP BY i)
       |SELECT i, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
       |       round(mb - ma, 6) AS delta,
       |       round(abs(mb - ma) / sqrt((va + vb) / 2.0), 6) AS smd
       |FROM g""".stripMargin

  /** Incremental IVF assignment — the daily-refresh pattern for the
    * vector index (the ANN sibling of [[Dedup.incremental]] /
    * [[Dedup.minHashLshIncremental]]): only the `isNew` batch is scored;
    * the standing corpus contributes its coarse quantizer (seed
    * centroids, the persisted index state in a real deployment — here
    * re-derived with one bounded TakeOrdered over the standing rows).
    * Cell count auto-scales with the STANDING corpus ([[autoCells]]), so
    * a growing index keeps constant occupancy without re-assigning old
    * rows. Cost: O(batch · nCells) — no standing rescan, no shuffle of
    * the standing corpus. Output: (vec_id, cell) for the batch only.
    */
  def ivfAssignIncremental(emb: DataFrame, isNew: Column,
                           nCells: Int = 16): DataFrame = {
    val e = normed(emb)
    val standing = e.where(!isNew)
    val batch = e.where(isNew)
    val ranked = withCellRanks(batch, autoCells(standing.count(), nCells),
      keep = 1, seedFrom = standing)
    ranked.select(col("vec_id"), element_at(col("cells"), 1).as("cell"))
  }

  def ivfAssignIncrementalOracleSql(nCells: Int = 16,
      isNewSql: String = "((vec_id % 10) + 10) % 10 = 9"): String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cid, v AS cv, norm AS cn FROM e
       |  WHERE NOT ($isNewSql)
       |  ORDER BY vec_id LIMIT $nCells),
       |ranks AS (
       |  SELECT e.vec_id, c.cid,
       |         row_number() OVER (
       |           PARTITION BY e.vec_id
       |           ORDER BY floor((CASE WHEN e.norm * c.cn = 0 THEN 0.0 ELSE list_dot_product(e.v, c.cv) / (e.norm * c.cn) END) * 1e9 + 0.5) / 1e9 DESC,
       |                    c.cid) AS rnk
       |  FROM e CROSS JOIN cents c
       |  WHERE $isNewSql)
       |SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1""".stripMargin
}
