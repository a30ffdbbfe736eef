package graft.ml

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShim

/** The stores' driver-side metadata cache and job budget. A store call
  * made after a mutation must see the mutation: every serve below is
  * taken WARM (after a serve of the same store) and compared with the
  * same serve over a fresh copy of the store's directory, which no cache
  * has seen. The budget pins what the cache and the listed read path
  * buy: no listing or schema-inference job, and a few jobs per call.
  */
class StoreCacheSpec extends SparkSpec {
  import spark.implicits._

  private def localDir(tag: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_cache_$tag")
    d.toFile.deleteOnExit()
    d
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { src =>
      java.nio.file.Files.copy(src, to.resolve(from.relativize(src)))
    } finally walk.close()
  }

  private def deleteTree(dir: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    finally walk.close()
  }

  /** A copy of the store at `dir` under a path no cache has seen. */
  private def cold(dir: java.nio.file.Path, tag: String): String = {
    val dst = localDir(tag).resolve("store")
    copyTree(dir, dst)
    dst.toString
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.orderBy("query_id", "rank").collect().toSeq

  private def emb(n: Long, phase: Double = 0.0) = (0L until n).map { i =>
    (i, (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73 + phase).toFloat))
  }.toDF("vec_id", "embedding")
  private val isQ = pmod(col("vec_id"), lit(8)) === 0

  private def sqServe(path: String): Seq[Row] =
    rows(Index.ivfSqTopKIndexed(spark, path, emb(64).where(isQ), k = 5))

  private def rerankServe(path: String): Seq[Row] =
    rows(Index.ivfSqRerankTopKIndexed(spark, path, emb(64).where(isQ), k = 5))

  private val vocab = (0 until 40).map(i => s"w$i")
  private def docs(n: Long) = (0L until n).map { i =>
    (i, (0 until (5 + (i % 5)).toInt)
      .map(j => vocab(((i * 7 + j * 13 + i * j) % vocab.length).toInt)).mkString(" "))
  }.toDF("doc_id", "text")
  private val isSeed = col("doc_id") < 6

  private def lexServe(path: String): Seq[Row] =
    rows(LexIndex.bm25TopKIndexed(spark, path, docs(80).where(isSeed), k = 5))

  /** Serve warm, mutate, then check the warm serve against a cold one. */
  private def seesMutation(tag: String, dir: java.nio.file.Path, serve: String => Seq[Row])
                          (mutate: String => Unit): Unit = {
    val path = dir.toString
    val before = serve(path)
    mutate(path)
    val warm = serve(path)
    assert(warm == serve(cold(dir, tag)), s"$tag: a warm serve missed the mutation")
    assert(warm != before, s"$tag: the mutation changed nothing a serve sees")
  }

  private def sqStore(tag: String, withRaw: Boolean = false): java.nio.file.Path = {
    val dir = localDir(tag).resolve("store")
    Index.saveIvfSq(emb(48), dir.toString, nCells = 4, withRaw = withRaw)
    Index.appendIvfSq(spark, dir.toString, emb(64).where(col("vec_id") >= 48))
    dir
  }

  test("a warm serve sees a fresh saveIvfSq at the same path") {
    val dir = sqStore("resave")
    seesMutation("resave", dir, sqServe) { p =>
      Index.saveIvfSq(emb(64, phase = 0.5), p, nCells = 6, residual = true)
    }
  }

  test("a warm serve sees rebuildFrom") {
    val dir = sqStore("rebuild", withRaw = true)
    seesMutation("rebuild", dir, rerankServe) { p =>
      Index.rebuildFrom(spark, p, emb(64, phase = 0.5))
    }
  }

  test("a warm serve sees Index.compact") {
    val dir = sqStore("compact")
    seesMutation("compact", dir, sqServe) { p =>
      // the deletes change the serve; the compaction consumes them
      Index.delete(spark, p, Seq(1L, 9L, 17L).toDF("vec_id"))
      Index.compact(spark, p)
    }
  }

  test("a warm serve sees foldStats") {
    val dir = localDir("fold").resolve("store")
    LexIndex.saveLexical(docs(60).where(!isSeed), dir.toString, nBuckets = 4)
    LexIndex.appendLexical(spark, dir.toString, docs(80).where(col("doc_id") >= 60))
    seesMutation("fold", dir, lexServe)(LexIndex.foldStats(spark, _))
  }

  test("a warm serve sees a publish made from a second SparkSession") {
    val dir = sqStore("session")
    val other = spark.newSession()
    seesMutation("session", dir, sqServe) { p =>
      Index.rebuildFrom(other, p, emb(64, phase = 0.5))
    }
  }

  test("a warm serve sees a store another writer replaced on disk") {
    // no store call runs between the two serves: only the files change,
    // as another process's publish or re-save would change them
    val dir = sqStore("replaced")
    val other = localDir("replacement").resolve("store")
    Index.saveIvfSq(emb(64, phase = 0.5), other.toString, nCells = 6, residual = true)
    seesMutation("replaced", dir, sqServe) { _ =>
      deleteTree(dir)
      copyTree(other, dir)
    }
  }

  test("a cached footer schema follows the reading session's schema settings") {
    // a file written without Spark's schema metadata: its Spark schema
    // is derived from the parquet types, under the session's settings
    val dir = localDir("binary").resolve("table")
    java.nio.file.Files.createDirectories(dir)
    val parquetType = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message t { required int64 id; required binary b; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir.resolve("part-0.parquet").toString),
        spark.sparkContext.hadoopConfiguration))
      .withType(parquetType).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(parquetType)
      .newGroup().append("id", 1L).append("b", "hi"))
    finally writer.close()
    assert(Store.read(spark, dir.toString).schema("b").dataType == org.apache.spark.sql.types.BinaryType)
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Store.read(other, dir.toString).schema == other.read.parquet(dir.toString).schema)
    assert(Store.read(other, dir.toString).schema("b").dataType == org.apache.spark.sql.types.StringType)
  }

  /** Jobs started while `body` runs, as (description, stage name,
    * inside a SQL execution), after the listener bus has drained.
    */
  private def jobsOf(body: => Unit): Seq[(String, String, Boolean)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Boolean)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        seen.add((props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""),
          e.stageInfos.headOption.map(_.name).getOrElse(""),
          props.exists(_.getProperty("spark.sql.execution.id") != null)))
      }
    }
    GraftShim.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      GraftShim.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    seen.toArray(Array.empty[(String, String, Boolean)]).toSeq
  }

  private def checkBudget(what: String, budget: Int = Int.MaxValue)(body: => Unit): Unit = {
    val jobs = jobsOf(body)
    val listing = jobs.filter(_._1.startsWith("Listing leaf files and directories"))
    // schema inference runs outside any SQL execution, called from a read
    val inference = jobs.filter(j => !j._3 && j._2.startsWith("parquet at"))
    assert(listing.isEmpty, s"$what ran listing jobs: $listing")
    assert(inference.isEmpty, s"$what ran schema-inference jobs: $inference")
    assert(jobs.length <= budget, s"$what ran ${jobs.length} jobs, budget $budget: $jobs")
  }

  test("store calls run no listing or schema-inference job, within a job budget") {
    // 40 cells and 64 buckets: both stores have more partition
    // directories than Spark's 32-path parallel-listing threshold
    val ann = localDir("budgetann").resolve("store").toString
    checkBudget("saveIvfSq")(Index.saveIvfSq(emb(200), ann, nCells = 40))
    val lex = localDir("budgetlex").resolve("store").toString
    checkBudget("saveLexical") {
      LexIndex.saveLexical(docs(240).where(!isSeed), lex, nBuckets = 64)
    }
    val queries = (0L until 24L).map { i =>
      (1000L + i, (0 until 8).map(d => math.cos(i * 0.91 + d * 0.37).toFloat))
    }.toDF("vec_id", "embedding")
    val seeds = (0L until 24L).map(i => (1000L + i,
      (0 until 8).map(j => vocab(((i * 5 + j * 11) % vocab.length).toInt)).mkString(" ")))
      .toDF("doc_id", "text")
    // first calls: the driver-side entries are filled without a job
    checkBudget("ivfSqTopKIndexed", 8) {
      Index.ivfSqTopKIndexed(spark, ann, queries, k = 10, nProbe = 8).collect()
    }
    checkBudget("upsertIvfSq", 6) {
      Index.upsertIvfSq(spark, ann, emb(200, phase = 0.5).where(col("vec_id") < 8))
    }
    checkBudget("bm25TopKIndexed", 12) {
      LexIndex.bm25TopKIndexed(spark, lex, seeds, k = 10).collect()
    }
    checkBudget("warm ivfSqTopKIndexed", 8) {
      Index.ivfSqTopKIndexed(spark, ann, queries, k = 10, nProbe = 8).collect()
    }
    // every other store call: no metadata job either
    checkBudget("appendLexical") {
      LexIndex.appendLexical(spark, lex, docs(300).where(col("doc_id") >= 240))
    }
    checkBudget("foldStats")(LexIndex.foldStats(spark, lex))
    checkBudget("deleteDocs")(LexIndex.deleteDocs(spark, lex, Seq(7L).toDF("doc_id")))
    checkBudget("compactLexical")(LexIndex.compactLexical(spark, lex))
    checkBudget("delete")(Index.delete(spark, ann, Seq(3L).toDF("vec_id")))
    checkBudget("compact")(Index.compact(spark, ann))
    checkBudget("rebuildFrom")(Index.rebuildFrom(spark, ann, emb(200, phase = 0.5)))
  }
}
