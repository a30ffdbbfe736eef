package graft.ml

import graft.SparkSpec
import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** A local file system under the `crashfs` scheme that throws at the N-th
  * mutation of a store's PUBLISH step: the mutations a reader can see.
  * Counted are a rename into a generation directory (the `sq_meta`
  * marker's included), the create or delete of a commit marker
  * (`_SUCCESS`, `commit_v<n>`), the delete of a generation directory
  * directly under the store root, and the delete of a consumed append
  * sidecar (`df_deltas/`, `doc_deltas/` or a file in them). Mutations inside a
  * committer's `_temporary` tree or a `_<what>_stage` directory are
  * invisible to readers and are not counted, nor are the writer lease,
  * the mutation counter, or the tombstone files.
  */
final class CrashPointFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: java.net.URI = CrashPointFs.Uri
}) {
  import CrashPointFs._

  override def getScheme: String = Scheme

  override def rename(src: Path, dst: Path): Boolean = {
    if (visible(dst) && inGeneration(dst)) step(s"rename $src -> $dst")
    super.rename(src, dst)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (visible(f) && isMarker(f.getName)) step(s"create $f")
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (visible(f) && (isMarker(f.getName) || isGeneration(f) || isSidecar(f)))
      step(s"delete $f")
    super.delete(f, recursive)
  }
}

object CrashPointFs {
  val Scheme = "crashfs"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")

  private val GenDir =
    "(centroids|codewords|postings|pq_codes|sq_codes|mrl_codes|terms|sq_meta)(_v\\d+)?".r

  @volatile private var root: Option[String] = None
  @volatile private var failAt = Int.MaxValue
  @volatile private var fired = false
  private val seen = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Count the mutations under store `path`; throw at the `n`-th. */
  def arm(path: String, n: Int = Int.MaxValue): Unit = {
    root = Some(new Path(path).toUri.getPath); seen.set(0); fired = false
    failAt = n
  }

  def disarm(): Unit = root = None

  /** The mutations counted since the last arming. */
  def counted: Int = seen.get

  /** Whether the current arming has thrown. */
  def hasFired: Boolean = fired

  private def visible(p: Path): Boolean = {
    val s = p.toUri.getPath
    !s.contains("/_temporary") && !s.matches(".*/_\\w+_stage(/.*)?")
  }

  private def isMarker(name: String): Boolean =
    name == "_SUCCESS" || name.startsWith("commit_v")

  /** A generation directory directly under the armed store root. */
  private def isGeneration(p: Path): Boolean =
    Option(p.getParent).exists(d => root.contains(d.toUri.getPath)) &&
      GenDir.matches(p.getName)

  /** An append sidecar directory of the armed store, or a file in one. */
  private def isSidecar(p: Path): Boolean = {
    def isDir(d: Path) = Seq("df_deltas", "doc_deltas").contains(d.getName) &&
      Option(d.getParent).exists(r => root.contains(r.toUri.getPath))
    isDir(p) || Option(p.getParent).exists(isDir)
  }

  private def inGeneration(p: Path): Boolean =
    Iterator.iterate(p)(_.getParent).takeWhile(_ != null).exists(isGeneration)

  private def step(what: String): Unit =
    if (root.exists(r => what.contains(r)) &&
        seen.incrementAndGet() == failAt) {
      fired = true
      throw new java.io.IOException(s"injected crash at publish mutation #$failAt: $what")
    }
}

/** Crash-point enumeration over the stores' publish step (ALICE-style,
  * Pillai et al., OSDI 2014): for every N, a mutator killed at the N-th
  * publish mutation leaves a store whose fresh serve is bit-equal to the
  * pre-state or the post-state, and the next call of the same mutator
  * recovers to the post-state. Each crashed store is served once before
  * the mutator runs, so the serves after the crash read through a warm
  * metadata cache ([[Store]]).
  */
class StoreCrashSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set(s"fs.${CrashPointFs.Scheme}.impl", classOf[CrashPointFs].getName)

  private def localDir(tag: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_crash_$tag")
    d.toFile.deleteOnExit()
    d
  }

  private def crashUri(p: java.nio.file.Path): String =
    s"${CrashPointFs.Scheme}://${p.toAbsolutePath}"

  /** A fresh copy of the store at `template` (a plain directory copy). */
  private def copyOf(template: java.nio.file.Path, tag: String): String = {
    val dst = localDir(tag).resolve("store")
    val walk = java.nio.file.Files.walk(template)
    try walk.forEach { src =>
      java.nio.file.Files.copy(src, dst.resolve(template.relativize(src)))
    } finally walk.close()
    crashUri(dst)
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.orderBy("query_id", "rank").collect().toSeq

  /** Kill `mutate` at each publish mutation in turn; returns how many
    * crash points it exercised. Where a crash left the post-state, each
    * of `followUps` must keep it.
    */
  private def enumerate(tag: String, template: java.nio.file.Path,
                        mutate: String => Unit,
                        serve: String => Seq[Row],
                        followUps: Seq[String => Unit] = Nil): Int = {
    val pre = serve(crashUri(template))
    val clean = copyOf(template, tag)
    CrashPointFs.arm(clean)
    try mutate(clean) finally CrashPointFs.disarm()
    val points = CrashPointFs.counted
    val post = serve(clean)
    (1 to points).foreach { n =>
      val store = copyOf(template, tag)
      // serve once first: the serve after the crash runs warm, on
      // whatever metadata the store's pre-state left cached
      assert(serve(store) == pre)
      CrashPointFs.arm(store, n)
      val crashed =
        try { mutate(store); false }
        catch { case _: Exception if CrashPointFs.hasFired => true }
        finally CrashPointFs.disarm()
      assert(crashed, s"$tag: publish mutation #$n of $points was never reached")
      val seen = serve(store)
      assert(seen == pre || seen == post,
        s"$tag: a crash at publish mutation #$n left a store that serves " +
          "neither the pre- nor the post-state")
      if (seen == post) followUps.foreach { call =>
        call(store)
        assert(serve(store) == post,
          s"$tag: after a crash at publish mutation #$n, a later call changed the post-state")
      }
      mutate(store)
      assert(serve(store) == post,
        s"$tag: the call after a crash at publish mutation #$n did not recover")
    }
    points
  }

  private def emb = (0L until 48L).map { i =>
    (i, (0 until 4).map(d => math.sin(i * 1.37 + d * 0.73).toFloat))
  }.toDF("vec_id", "embedding")
  private val isQ = pmod(col("vec_id"), lit(8)) === 0

  private val vocab = Array("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa", "lam", "mu")
  private def docs = (0L until 32L).map { i =>
    (i, (0 until (4 + (i % 4)).toInt)
      .map(j => vocab(((i * 7 + j * 3 + i * j) % 12).toInt)).mkString(" "))
  }.toDF("doc_id", "text")
  private val isSeed = col("doc_id") < 4

  private def lexServe(path: String): Seq[Row] =
    rows(LexIndex.bm25TopKIndexed(spark, path, docs.where(isSeed), k = 5))

  /** The serve plus the frozen df and stats a fold republishes: a fold
    * that counts a sidecar twice shows here even where the top-5 hides
    * it.
    */
  private def lexFolded(path: String): Seq[Row] =
    lexServe(path) ++
      spark.read.parquet(LexIndex.termsDir(spark, path)).orderBy("th").collect() ++
      spark.read.parquet(LexIndex.statsDir(spark, path)).collect()

  /** The live `sq_meta` marker row. */
  private def sqMeta(path: String): Seq[Row] =
    spark.read.parquet(Store.liveDir(spark, path, Store.SqMetaKind)).collect().toSeq

  /** A lexical store with appended and deleted rows (a compaction has
    * files to fold and tombstones to consume); `folded` also compacts it
    * once before the deletes (the next compaction retires generation 0)
    * and then folds its sidecars.
    */
  private def lexTemplate(tag: String, folded: Boolean): java.nio.file.Path = {
    val dir = localDir(tag).resolve("store")
    val path = crashUri(dir)
    LexIndex.saveLexical(docs.where(!isSeed && col("doc_id") < 24), path,
      nBuckets = 4)
    LexIndex.appendLexical(spark, path, docs.where(col("doc_id") >= 24))
    if (folded) LexIndex.compactLexical(spark, path)
    LexIndex.deleteDocs(spark, path, Seq(5L, 25L).toDF("doc_id"))
    if (folded) LexIndex.foldStats(spark, path)
    dir
  }

  test("Index.compact on a combined PQ+raw store: every publish crash point") {
    val dir = localDir("compact").resolve("store")
    val path = crashUri(dir)
    Index.saveIvfPq(emb.where(col("vec_id") < 36), path, nCells = 4,
      nSub = 2, nCode = 4, withRaw = true)
    Index.appendIvfPq(spark, path, emb.where(col("vec_id") >= 36))
    Index.delete(spark, path, Seq(3L, 40L).toDF("vec_id"))
    val points = enumerate("compact", dir, Index.compact(spark, _),
      p => rows(Index.ivfPqRerankTopKIndexed(spark, p, emb.where(isQ), k = 5)))
    assert(points > 0)
  }

  test("LexIndex.foldStats: every publish crash point") {
    // the crash points include the consumed-sidecar deletes, which come
    // after the commit marker: a fold killed there must not count the
    // surviving sidecars again on its next call
    val points = enumerate("fold", lexTemplate("fold", folded = false),
      LexIndex.foldStats(spark, _), lexFolded)
    assert(points > 0)
  }

  test("LexIndex.rebuildLexical: every publish crash point, each followed by foldStats") {
    // the rebuild consumes the append sidecars after its commit marker: a
    // rebuild killed among those deletes must leave nothing the next fold
    // counts again
    val points = enumerate("rebuildfold", lexTemplate("rebuildfold", folded = false),
      p => LexIndex.rebuildLexical(docs.where(!isSeed), p, nBuckets = 4), lexFolded,
      followUps = Seq(LexIndex.foldStats(spark, _)))
    assert(points > 0)
  }

  test("fold, then a compactLexical killed at every publish crash point") {
    // the fold commits a terms generation first: a compaction numbered
    // per kind would reuse that generation's number, and its commit
    // marker would commit the compaction's directory before its own
    // publish
    val points = enumerate("foldcompact", lexTemplate("foldcompact", folded = true),
      LexIndex.compactLexical(spark, _), lexServe)
    assert(points > 0)
  }

  test("Index.rebuildFrom: every publish crash point") {
    val dir = localDir("rebuild").resolve("store")
    val path = crashUri(dir)
    Index.saveIvfSq(emb.where(col("vec_id") < 36), path, nCells = 4)
    Index.appendIvfSq(spark, path, emb.where(col("vec_id") >= 36))
    val points = enumerate("rebuild", dir, Index.rebuildFrom(spark, _, emb),
      p => rows(Index.ivfSqTopKIndexed(spark, p, emb.where(isQ), k = 5)))
    assert(points > 0)
  }

  test("Index.rebuildFrom on a combined SQ+raw store: every crash point, sq_meta included") {
    val dir = localDir("rebuildsq").resolve("store")
    val path = crashUri(dir)
    Index.saveIvfSq(emb.where(col("vec_id") < 36), path, nCells = 4, withRaw = true)
    Index.appendIvfSq(spark, path, emb.where(col("vec_id") >= 36))
    val points = enumerate("rebuildsq", dir, Index.rebuildFrom(spark, _, emb),
      p => rows(Index.ivfSqRerankTopKIndexed(spark, p, emb.where(isQ), k = 5)) ++ sqMeta(p))
    assert(points > 0)
  }

  test("a combined SQ rebuild aborted at its fence leaves sq_meta as it was") {
    val dir = localDir("sqfence").resolve("store")
    val path = dir.toString
    Index.saveIvfSq(emb.where(col("vec_id") < 36), path, nCells = 4, withRaw = true)
    def markerFiles: Seq[String] = {
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.map(dir.relativize(_).toString)
        .filter(_.startsWith("sq_meta")).toSeq.sorted
      finally walk.close()
    }
    val before = (markerFiles, sqMeta(path))
    val ex = intercept[IllegalStateException] {
      Index.rebuildFrom(spark, path, emb,
        () => Index.delete(spark, path, Seq(1L).toDF("vec_id")))
    }
    assert(ex.getMessage.contains("single-writer"))
    assert((markerFiles, sqMeta(path)) == before,
      "a rebuild that aborted at its fence rewrote the store's sq_meta")
  }
}
