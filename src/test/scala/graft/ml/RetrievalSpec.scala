package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed

/** Unit coverage for BM25 retrieval on hand-checkable micro-corpora (the
  * sf-scale oracle check is the driver's t2 gate).
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("bm25TopK: tf weighting ranks the double-match first, zero-overlap absent") {
    // query doc 0: bigrams {"x y","y z","z w"}; doc 1 holds "x y" twice,
    // doc 2 once, doc 3 shares nothing
    val d = Seq(
      0L -> "x y z w",
      1L -> "x y x y",
      2L -> "x y q",
      3L -> "q r s").toDF("doc_id", "text")
    // dfCapFrac 1.0: at N = 3 the default cap floor(0.5·N) = 1 would
    // prune the very terms under test
    val out = Retrieval.bm25TopK(d, col("doc_id") === 0, k = 10, dfCapFrac = 1.0)
      .orderBy("rank")
      .select("query_id", "doc_id", "rank")
      .as[(Long, Long, Int)].collect().toSeq
    assert(out.map(_._1).toSet === Set(0L))
    assert(out.map(_._2) === Seq(1L, 2L)) // tf=2 beats tf=1; doc 3 absent
    assert(out.map(_._3) === Seq(1, 2))
  }

  test("bm25TopK: df cap prunes a term present in every corpus doc") {
    // "c c" appears in all 3 corpus docs (df = 3 = N > 0.5·N → pruned);
    // "a b" appears only in doc 1 → the sole surviving contribution
    val d = Seq(
      0L -> "a b c c",
      1L -> "a b c c",
      2L -> "c c d",
      3L -> "c c e").toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(d, col("doc_id") === 0, k = 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(out === Seq(1L)) // docs 2,3 matched only the capped stopword term
  }

  test("bm25TopK: score is an integer micro-unit sum, ties break on doc_id") {
    // docs 1 and 2 are identical → identical scores; rank order by doc_id
    val d = Seq(
      0L -> "p q r s",
      1L -> "p q m",
      2L -> "p q m").toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(d, col("doc_id") === 0, k = 10, dfCapFrac = 1.0)
      .orderBy("rank")
      .select("doc_id", "score_micro", "rank")
      .as[(Long, Long, Int)].collect().toSeq
    assert(out.map(_._1) === Seq(1L, 2L))
    assert(out(0)._2 === out(1)._2)
    assert(out.forall(_._2 > 0))
  }

  test("hybridRrf fuses the component lists by exact integer RRF") {
    // corpus: doc 1 is the lexical hit, vec 3 is the dense hit; doc/vec 2
    // shows up in both lists → must collect BOTH contributions
    val d = Seq(
      0L -> "a b c d",
      1L -> "a b c z",
      2L -> "a b y y",
      3L -> "q r s t").toDF("doc_id", "text")
    val emb = Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(0f, 1f, 0f, 0f),
      2L -> Seq(0.9f, 0.1f, 0f, 0f),
      3L -> Seq(0.99f, 0f, 0.1f, 0f)).toDF("vec_id", "embedding")
    val k = 3
    val fused = Retrieval.hybridRrf(d, emb, k = k, nSeeds = 1)
      .orderBy("rank")
      .select("query_id", "cand_id", "lex_rank", "dense_rank", "rrf_micro", "rank")
      .as[(Long, Long, Int, Int, Long, Int)].collect().toSeq
    // expected fusion recomputed from the component operators themselves
    val lex = Retrieval.bm25TopK(d, col("doc_id") < 1, k)
      .select("query_id", "doc_id", "rank")
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val den = Similarity.ivfTopK(emb, col("vec_id") < 1, k)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    def c(r: Option[Int]): Long =
      r.map(x => math.floor(1e6 / (60 + x) + 0.5).toLong).getOrElse(0L)
    val expect = (lex.keySet ++ den.keySet).toSeq
      .map { key =>
        (key._1, key._2, lex.get(key).getOrElse(-1), den.get(key).getOrElse(-1),
          c(lex.get(key)) + c(den.get(key)))
      }
      .sortBy(t => (t._1, -t._5, t._2))
      .take(k).zipWithIndex
      .map { case ((q, cand, lr, dr, s), i) => (q, cand, lr, dr, s, i + 1) }
    assert(fused === expect)
    // the fixture exercises all three membership cases
    assert(fused.exists(r => r._3 > 0 && r._4 > 0), "no both-lists candidate")
    assert(fused.exists(r => r._3 === -1 || r._4 === -1), "no one-list candidate")
  }

  test("property: inline, stored and plain-Scala BM25 agree on random corpora") {
    // a four-word vocabulary: bigrams repeat across documents, so scores
    // tie at the top-k cut and frequent bigrams cross the df cap
    val text = Gen.choose(1, 7)
      .flatMap(Gen.listOfN(_, Gen.oneOf("a", "b", "c", "d"))).map(_.mkString(" "))
    val corpora = Gen.choose(6, 14).flatMap(Gen.listOfN(_, text))
    val k = 3
    val isQ = col("doc_id") < 2
    def h64(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(x => f"$x%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def bigrams(t: String, nWords: Int): Seq[String] =
      t.split(" ", -1).take(nWords).sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSeq
    var ties, capped = 0
    // each query's idf map built here (df over the corpus, the default
    // cap df <= floor(0.5·N), 6-dp idf), each document scored by the
    // streaming gate's in-row scorer, ordered by (score desc, doc_id)
    def reference(texts: Seq[String]): Seq[(Long, Long, Long, Int)] = {
      val (queries, corpus) = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.partition(_._1 < 2)
      val n = corpus.size
      val avgdl = round6(corpus.map(d => bigrams(d._2, Int.MaxValue).size)
        .sum.toDouble / n)
      val df = corpus.flatMap(d => bigrams(d._2, Int.MaxValue).distinct)
        .groupBy(identity).map { case (g, occ) => g -> occ.size.toLong }
      queries.flatMap { case (q, t) =>
        val terms = bigrams(t, 9).distinct.flatMap(g => df.get(g).map(g -> _))
        capped += terms.count(_._2 > n / 2)
        val idf = terms.collect { case (g, d) if d <= n / 2 =>
          h64(g) -> round6(StrictMath.log(1.0 + (n - d + 0.5) / (d + 0.5)))
        }.toMap
        val hits = corpus
          .map { case (d, dt) => (d, StreamingSelect.scoreText(dt, idf, avgdl, 1.2, 0.75)) }
          .collect { case (d, (m, s)) if m > 0 => (d, s) }
          .sortBy { case (d, s) => (-s, d) }
        if (hits.map(_._2).distinct.size < hits.size) ties += 1
        hits.take(k).zipWithIndex.map { case ((d, s), i) => (q, d, s, i + 1) }
      }
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Int)] =
      df.orderBy("query_id", "rank").as[(Long, Long, Long, Int)].collect().toSeq
    val prop = Prop.forAll(corpora) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val path = java.nio.file.Files.createTempDirectory("graft_bm25_prop").toString
      LexIndex.saveLexical(docs.where(!isQ), path, nBuckets = 4)
      val inline = rows(Retrieval.bm25TopK(docs, isQ, k))
      val stored = rows(LexIndex.bm25TopKIndexed(spark, path, docs.where(isQ), k))
      inline == reference(texts) && stored == inline
    }
    val res = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(25)
        .withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, res.status.toString)
    assert(ties > 0 && capped > 0, s"ties $ties, capped terms $capped")
  }
}
