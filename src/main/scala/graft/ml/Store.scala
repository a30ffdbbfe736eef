package graft.ml

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The generation lifecycle both persisted stores share — the dense
  * [[Index]] and the lexical [[LexIndex]]. Each store is a directory of
  * data KINDS; every kind is versioned the same way, and every mutation
  * that replaces a kind goes through ONE publish:
  *
  *   - `<kind>/` — generation 0, written in place by a build (committed
  *     by construction: a reader only exists after a build);
  *   - `<kind>_v<n>/` — a later generation, committed by the store-level
  *     `commit_v<n>` file [[publish]] creates (one single-file create
  *     flips every kind of a publish at once). Stores written before the
  *     one publish committed compactions and folds by a per-directory
  *     `_SUCCESS`, which [[isCommitted]] still reads;
  *   - `_<what>_stage/` — a mutator's output before its publish,
  *     invisible to the generation listing;
  *   - `_consumed` inside a generation — the input files its publish
  *     consumed ([[unconsumed]]);
  *   - `tombstones/` and `seq/` — [[Tombstones]]; `_writer_lease` —
  *     [[Lease]].
  *
  * Readers resolve the highest committed generation of each kind
  * ([[liveDir]]); the generation before it stays on disk as the grace
  * generation a pre-planned serve may still read, until the next publish
  * of that kind or a [[vacuum]] retires it.
  *
  * ONE read path serves both stores, and it runs no Spark job before the
  * answering query plans. Data reads ([[read]], [[readFiles]],
  * [[prunedToProbes]]) hand Spark the driver's own listing of the
  * generation and the file schema, so no read pays a schema-inference
  * job or, past Spark's 32-path threshold, a partition-discovery job
  * (the session's threshold setting is left as the user set it).
  * Metadata a committed generation cannot change is cached JVM-wide on
  * the driver: the marker rows (`meta`, `sq_meta`, `ivf_meta`,
  * `mrl_meta`) and the lexical stats row ([[table]]), the centroids and
  * codebooks as driver arrays (the callers' [[table]] decoders), and
  * each data file's footer schema, from which a kind's schema —
  * metadata columns included — is derived. The first lookup reads the
  * entry on the driver with Spark's parquet reader, not through a job.
  * The KEY is the qualified entry path plus the driver-side listing of
  * the entry's files (names, lengths): every Spark write names its part
  * files with the write's UUID, so an overwrite at the same path, a
  * rebuild, or a publish by another process is a miss, never a stale
  * hit. [[publish]] is the one place a committed generation changes, so
  * it is the one invalidation point: it drops the store's entries. The
  * schema a footer yields depends on the session's parquet schema
  * settings (binaryAsString and the like), so they are part of every key
  * too. The cache is bounded by [[CacheMaxEntries]] entries and
  * [[CacheMaxBytes]] of estimated size, least recently used first out;
  * an entry larger than the byte bound is read but not kept.
  */
object Store {
  import org.apache.hadoop.fs.FileStatus
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.graft.GraftShim
  import org.apache.spark.sql.types.StructType

  /** The data kinds. Centroids and codewords are the dense build's
    * quantizers (replaced only by a rebuild); postings, the three code
    * kinds and terms are data (compactions and folds replace them too).
    * `sq_meta` is the one marker a rebuild rewrites (a combined SQ
    * store's ownership fields), so it is published like a kind: staged
    * with the rebuild, live only once the rebuild's commit marker is.
    */
  private[graft] val CentroidsKind = "centroids"
  private[graft] val CodewordsKind = "codewords"
  private[graft] val PostingsKind = "postings"
  private[graft] val PqCodesKind = "pq_codes"
  private[graft] val SqCodesKind = "sq_codes"
  private[graft] val MrlCodesKind = "mrl_codes"
  private[graft] val TermsKind = "terms"
  private[graft] val SqMetaKind = "sq_meta"
  private val AllKinds = Seq(CentroidsKind, CodewordsKind, PostingsKind,
    PqCodesKind, SqCodesKind, MrlCodesKind, TermsKind, SqMetaKind)

  private val CommitPrefix = "commit_v"

  /** The record, inside every generation a publish creates, of the input
    * files that publish consumed: their store-relative paths, one a line
    * ([[publish]], [[unconsumed]]).
    */
  private val ConsumedRecord = "_consumed"

  private[graft] def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    fs(spark, p).exists(p)
  }

  private[graft] def dropDir(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val f = fs(spark, p)
    if (f.exists(p)) { f.delete(p, true); () }
  }

  /** The parquet files directly under `dir` (none if it does not exist) —
    * the consumption unit of tombstones and append sidecars: a mutator
    * folds in exactly the files it listed and deletes exactly those.
    */
  private[graft] def listParquet(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(spark, p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
  }

  /** The input files under `dir` (as [[listParquet]]) the LIVE generation
    * of `kind` has not consumed. [[publish]] deletes what it consumed
    * only after its commit marker; a publish that died in between left
    * those files beside a generation that already holds them, and that
    * generation's record names them: they are deleted here instead of
    * being returned, so no mutator folds them in twice.
    */
  private[graft] def unconsumed(spark: SparkSession, path: String, kind: String,
                                dir: String): Seq[String] = {
    val files = listParquet(spark, dir)
    val root = new Path(path)
    val f = fs(spark, root)
    val record = new Path(liveDir(spark, path, kind), ConsumedRecord)
    if (files.isEmpty || !f.exists(record)) files
    else {
      val in = f.open(record)
      val done =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSet
        finally in.close()
      val rootQ = f.makeQualified(root)
      val (gone, left) = files.partition(c => done(relativeTo(rootQ, new Path(c))))
      gone.foreach(c => f.delete(new Path(c), false))
      left
    }
  }

  /** `p`'s path below the store `root` (the record's form: a store read
    * through another URI of the same file system matches it too).
    */
  private def relativeTo(root: Path, p: Path): String =
    p.toUri.getPath.stripPrefix(root.toUri.getPath.stripSuffix("/") + "/")

  /** Version of a directory named `name` as a generation of `kind`. */
  private def versionOf(kind: String, name: String): Option[Int] =
    if (name == kind) Some(0)
    else if (name.startsWith(s"${kind}_v"))
      scala.util.Try(name.stripPrefix(s"${kind}_v").toInt).toOption
    else None

  private def versionOfAny(name: String): Option[Int] =
    AllKinds.iterator.flatMap(versionOf(_, name)).nextOption()

  /** The store root's entries (none for a missing store). */
  private def listRoot(spark: SparkSession, path: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val root = new Path(path)
    val f = fs(spark, root)
    if (!f.exists(root)) Nil else f.listStatus(root).toSeq
  }

  /** All on-disk generations of `kind`, committed or not, as (version,
    * path) — version 0 is the flat build directory.
    */
  private[graft] def generations(spark: SparkSession, path: String, kind: String)
      : Seq[(Int, Path)] =
    listRoot(spark, path).filter(_.isDirectory)
      .flatMap(st => versionOf(kind, st.getPath.getName).map(_ -> st.getPath))

  /** The flat build directory is committed by construction; a versioned
    * one by the store-level `commit_v<n>` marker, or — written before the
    * one publish — by its own `_SUCCESS`.
    */
  private[graft] def isCommitted(spark: SparkSession, p: Path): Boolean = {
    val name = p.getName
    if (!name.contains("_v")) true
    else {
      val f = fs(spark, p)
      f.exists(new Path(p.getParent, CommitPrefix + name.substring(name.lastIndexOf("_v") + 2))) ||
        f.exists(new Path(p, "_SUCCESS"))
    }
  }

  private def committed(spark: SparkSession, path: String, kind: String)
      : Seq[(Int, Path)] =
    generations(spark, path, kind).filter { case (_, p) => isCommitted(spark, p) }

  /** The LIVE directory of `kind`: its highest COMMITTED generation. A
    * publish that died before its commit marker left an uncommitted
    * `_v<n>` directory no reader ever selects, and the previous
    * generation stays live. Every read, append and stat resolves here.
    */
  private[graft] def liveDir(spark: SparkSession, path: String,
                             kind: String): String = {
    val gens = committed(spark, path, kind)
    if (gens.isEmpty) s"$path/$kind" // fresh store: the build target
    else gens.maxBy(_._1)._2.toString
  }

  /** The kinds with a committed generation at `path`, from ONE listing
    * of the store root — what every store-wide operation dispatches on.
    */
  private[graft] def committedKinds(spark: SparkSession, path: String): Set[String] = {
    val dirs = listRoot(spark, path).filter(_.isDirectory).map(_.getPath)
    AllKinds.filter(k => dirs.exists(p =>
      versionOf(k, p.getName).isDefined && isCommitted(spark, p))).toSet
  }

  /** Drop every generation of `kind` — an in-place build writes the flat
    * directory, which stale higher versions would otherwise outrank.
    */
  private[graft] def retireGenerations(spark: SparkSession, path: String,
                                       kind: String): Unit =
    generations(spark, path, kind).foreach { case (_, p) =>
      fs(spark, p).delete(p, true); ()
    }

  /** Drop the store-level `commit_v<n>` markers: with `all`, every one
    * (an in-place build — a stale marker could commit a later publish's
    * directory reusing its number); otherwise those no generation
    * directory on disk carries the number of (after a publish retired
    * or a [[vacuum]] reclaimed it). Returns the bytes removed.
    */
  private[graft] def dropStoreCommits(spark: SparkSession, path: String,
                                      all: Boolean = false): Long = {
    val entries = listRoot(spark, path)
    val onDisk =
      if (all) Set.empty[String]
      else entries.filter(_.isDirectory)
        .flatMap(st => versionOfAny(st.getPath.getName)).map(_.toString).toSet
    entries.filter(st => st.isFile && st.getPath.getName.startsWith(CommitPrefix) &&
        !onDisk.contains(st.getPath.getName.stripPrefix(CommitPrefix)))
      .map { st => fs(spark, st.getPath).delete(st.getPath, false); st.getLen }.sum
  }

  /** Parquet data files under `dir`, counted through the Hadoop
    * FileSystem like every other store touch (a `java.io.File` walk
    * would silently return 0 on HDFS/S3/abfs stores, so the compaction
    * trigger would never fire). Recursive: the data dirs nest one
    * partition level (cell=…/bucket=…).
    */
  private[graft] def countDataFiles(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val f = fs(spark, p)
    if (!f.exists(p)) 0L
    else {
      val it = f.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
  }

  /** The serving-path scan cut: restrict a partitioned store directory
    * to the query batch's probed partitions (cells or buckets). The
    * probe list is collected driver-side — bounded by the query batch,
    * never by the corpus. TWO cuts compose: the read names ONLY the
    * probed partition directories (basePath + explicit paths — listing
    * every partition before pruning is a driver cost that grows with the
    * grid; at a 2,500-bucket lexical grid it quadrupled a 5-seed serve),
    * and the literal isin on the partition column stays on top, keeping
    * the prune visible in the plan (PlanSpec pins PartitionFilters).
    * The probed directories are listed CONCURRENTLY (bounded pool):
    * serially this is one storage round-trip per probed partition, which
    * at object-store latency dominates plan time. A probed partition can
    * be empty (no directory); it is skipped.
    */
  private[graft] def prunedToProbes(spark: SparkSession, dir: String,
                                    probeVals: Array[Long],
                                    partitionCol: String = "cell"): DataFrame = {
    val base = new Path(dir)
    val f = fs(spark, base)
    val paths = probeVals.map(v => f.makeQualified(new Path(base, s"$partitionCol=$v"))).toSeq
    val present = paths.zip(concurrently(paths)(leafFiles(f, _))).collect {
      case (p, Some(files)) if files.nonEmpty => p -> files
    }
    val pruned =
      if (present.isEmpty) read(spark, dir).where(lit(false))
      else scan(spark, present, mergeSchema = false, Map("basePath" -> dir)).get
    pruned.where(col(partitionCol).isin(probeVals.toSeq: _*))
  }

  /** `f` over `xs` on a bounded pool, in order; the first failure is
    * rethrown as itself and the still-queued calls are cancelled.
    */
  private def concurrently[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.length <= 1) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(16, xs.length))
      try {
        val calls = xs.map { x =>
          pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) })
        }
        calls.map(_.get())
      } catch {
        case e: java.util.concurrent.ExecutionException =>
          pool.shutdownNow()
          throw Option(e.getCause).getOrElse(e)
      } finally pool.shutdown()
    }

  /** Spark's rule for what a data listing skips: `_`- and `.`-prefixed
    * names (commit markers, `_stats/`, `_temporary/`, checksums) except
    * partition directories (`k=v`), and in-flight copies.
    */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The leaf data files under `root` in Spark's listing order (a
    * directory's files, then its subdirectories depth-first; a file root
    * is itself), or None when `root` does not exist.
    */
  private def leafFiles(f: FileSystem, root: Path): Option[Array[FileStatus]] = {
    def walk(sts: Array[FileStatus]): Array[FileStatus] = {
      val (dirs, files) = sts.filterNot(st => hidden(st.getPath.getName)).partition(_.isDirectory)
      files ++ dirs.flatMap(d => walk(f.listStatus(d.getPath)))
    }
    try Some(walk(f.listStatus(root)))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** A parquet read of `listed` (qualified root -> its leaf files) with
    * the schema Spark would infer — the first file's by path, or with
    * `mergeSchema` the union of all, merged in path order — built
    * without a job. None when there is no data file to take a schema
    * from.
    */
  private def scan(spark: SparkSession, listed: Seq[(Path, Array[FileStatus])],
                   mergeSchema: Boolean,
                   options: Map[String, String] = Map.empty): Option[DataFrame] = {
    val files = listed.flatMap(_._2).sortBy(_.getPath.toString)
    if (files.isEmpty) None
    else {
      val schema =
        if (mergeSchema || spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean)
          GraftShim.mergeSchemas(fileSchemas(spark, files))
        else fileSchemas(spark, files.take(1)).head
      Some(GraftShim.parquetScan(spark, listed.map(_._1), listed.toMap, schema, options))
    }
  }

  /** `spark.read.parquet(dir)` through the listed, schema-given path. */
  private[graft] def read(spark: SparkSession, dir: String,
                          mergeSchema: Boolean = false): DataFrame =
    readRoots(spark, Seq(dir), mergeSchema)

  /** `spark.read.parquet(files: _*)` of listed data files (tombstones,
    * fold sidecars) through the same path.
    */
  private[graft] def readFiles(spark: SparkSession, files: Seq[String]): DataFrame =
    readRoots(spark, files, mergeSchema = false)

  private def readRoots(spark: SparkSession, roots: Seq[String],
                        mergeSchema: Boolean): DataFrame = {
    val paths = roots.map(new Path(_))
    val f = fs(spark, paths.head)
    val qualified = paths.map(f.makeQualified)
    val listed = concurrently(qualified)(leafFiles(f, _))
    // a missing or empty input: Spark's own read raises what it always did
    (if (listed.exists(_.isEmpty)) None
     else scan(spark, qualified.zip(listed.map(_.get)), mergeSchema))
      .getOrElse((if (mergeSchema) spark.read.option("mergeSchema", "true")
                  else spark.read).parquet(roots: _*))
  }

  /** The driver-side metadata cache (see the object doc). */
  private val CacheMaxEntries = 4096
  private val CacheMaxBytes: Long = 256L << 20

  private object Cache {
    /** `path`: the qualified entry (a table directory or a data file);
      * `files`: its listing; `tag`: which decoding of it; `conf`: the
      * session settings a footer's schema is derived under.
      */
    final case class Key(path: String, files: Seq[String], tag: String, conf: Seq[Boolean])
    private val lru = new java.util.LinkedHashMap[Key, (AnyRef, Long)](64, 0.75f, true)
    private var bytes = 0L

    def get[T <: AnyRef](key: Key): Option[T] =
      synchronized(Option(lru.get(key))).map(_._1.asInstanceOf[T])

    def put(key: Key, v: AnyRef): Unit = {
      val size = org.apache.spark.util.SizeEstimator.estimate(v)
      if (size <= CacheMaxBytes) synchronized {
        Option(lru.put(key, (v, size))).foreach(old => bytes -= old._2)
        bytes += size
        val it = lru.entrySet().iterator()
        while ((lru.size > CacheMaxEntries || bytes > CacheMaxBytes) && it.hasNext) {
          bytes -= it.next().getValue._2
          it.remove()
        }
      }
    }

    def apply[T <: AnyRef](key: Key)(load: => T): T =
      get[T](key).getOrElse { val v = load; put(key, v); v }

    /** Drop every entry under the qualified store root `root`. */
    def drop(root: String): Unit = synchronized {
      val it = lru.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.path == root || e.getKey.path.startsWith(root + "/")) {
          bytes -= e.getValue._2
          it.remove()
        }
      }
    }
  }

  /** Each file's footer schema, cached by (path, length, mtime) — a part
    * file is never rewritten in place — and the session's schema
    * settings. Uncached footers are read concurrently.
    */
  private def fileSchemas(spark: SparkSession, files: Seq[FileStatus]): Seq[StructType] = {
    val conf = GraftShim.parquetSchemaSettings(spark)
    def key(st: FileStatus) = Cache.Key(st.getPath.toString,
      Seq(st.getLen.toString, st.getModificationTime.toString), "schema", conf)
    val cached = files.map(st => Cache.get[StructType](key(st)))
    val missing = files.zip(cached).collect { case (st, None) => st }
    val read = missing.zip(concurrently(missing)(GraftShim.parquetFileSchema(spark, _))).toMap
    read.foreach { case (st, schema) => Cache.put(key(st), schema) }
    files.zip(cached).map { case (st, hit) => hit.getOrElse(read(st)) }
  }

  /** A small committed table at `dir` — a marker, the stats row, a
    * quantizer — as rows (each carrying the schema), decoded by `decode`
    * and cached under `tag` and the listing of its files; None when
    * `dir` does not exist.
    */
  private[graft] def table[T <: AnyRef](spark: SparkSession, dir: String, tag: String)
                                      (decode: Array[Row] => T): Option[T] = {
    val root = new Path(dir)
    val f = fs(spark, root)
    val q = f.makeQualified(root)
    leafFiles(f, q).map { found =>
      val files = found.sortBy(_.getPath.toString).toSeq
      if (files.isEmpty) { spark.read.parquet(dir); () } // raises Spark's empty-input error
      Cache(Cache.Key(q.toString, files.map(st => s"${st.getPath.getName}:${st.getLen}"),
          tag, GraftShim.parquetSchemaSettings(spark))) {
        val schema = fileSchemas(spark, files.take(1)).head
        decode(GraftShim.readParquetRows(spark, schema, files))
      }
    }
  }

  /** The metadata columns a store was BUILT with, read from its parquet
    * schema (footer-only). mergeSchema: on a legacy mixed-schema store
    * (pre-validation appends that omitted metaCols) the UNION schema must
    * decide, or a sampled footer could miss a metadata column and wave
    * through exactly the unfilterable append [[appendMetaCols]] rejects.
    */
  private[graft] def storedMetaCols(spark: SparkSession, dir: String,
                                    core: Set[String]): Seq[String] =
    read(spark, dir, mergeSchema = true).schema.map(_.name).filterNot(core.contains)

  /** Validates + derives the effective metadata columns for an append:
    * the STORE's metadata set wins; the incoming batch must carry every
    * stored metadata column, and a caller-specified `metaCols` must match
    * the stored set exactly. An append that omitted a build-time column
    * would write rows a filtered serve silently never matches, so the
    * mismatch fails before anything is written.
    */
  private[graft] def appendMetaCols(spark: SparkSession, dir: String,
                                    core: Set[String], batch: DataFrame,
                                    callerMeta: Seq[String]): Seq[String] = {
    val stored = storedMetaCols(spark, dir, core)
    require(callerMeta.isEmpty || callerMeta.toSet == stored.toSet,
      s"append: metaCols ${callerMeta.mkString("[", ",", "]")} does not match " +
        s"the store's metadata columns ${stored.mkString("[", ",", "]")} — " +
        "appending with mismatched metadata would write rows a filtered " +
        "serve silently never matches")
    val missing = stored.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"append: incoming batch lacks the store's metadata column(s) " +
        s"${missing.mkString(", ")} — the store was built with " +
        s"metaCols = ${stored.mkString("[", ",", "]")}")
    stored
  }

  /** Append-vs-publish fence. An append resolves the live generation,
    * writes into it, then MUST observe the same generation still live: a
    * publish landing between resolve and write strands the appended files
    * in the grace generation — [[liveDir]] never serves them and the next
    * publish retires them, a silent-data-loss window. The store's write
    * contract is single-writer ([[Lease]]); this fence turns a violated
    * contract into a loud failure instead of lost rows. Recovery: quiesce
    * the other writer, check the live generation for the batch's ids, and
    * re-append what is missing. A dense COMBINED store appends its raw
    * refine flavor FIRST, so a crash between its two fenced writes leaves
    * ids that are merely never shortlisted rather than coded rows the
    * refine silently drops; recovery must check the sibling flavor too.
    */
  private[graft] def fencedAppend(spark: SparkSession, path: String,
                                  kind: String)(write: String => Unit): Unit = {
    val live = liveDir(spark, path, kind)
    write(live)
    val after = liveDir(spark, path, kind)
    if (after != live)
      throw new IllegalStateException(
        s"append raced a compaction on $path/$kind: wrote into $live but " +
          s"$after is now live, so the appended rows are stranded in a " +
          "retired generation and will NOT be served. Appends and compact " +
          "are single-writer — quiesce the compactor, verify which of the " +
          "batch's rows reached the live generation, and re-append the rest.")
  }

  /** What a staged mutator (rebuild, fold) must observe UNCHANGED
    * between reading its inputs and publishing: the mutation counter
    * (every append/delete/upsert bumps it — [[Tombstones.nextSeq]]) and
    * the committed-generation set (a compaction changes it without
    * bumping the counter).
    */
  private[graft] case class StoreSnapshot(seq: Long, gens: Set[String])

  private[graft] def snapshotStore(spark: SparkSession,
                                   path: String): StoreSnapshot =
    StoreSnapshot(Tombstones.currentSeq(spark, path),
      AllKinds.flatMap(k => committed(spark, path, k).map(_._2.getName)).toSet)

  /** The staged-mutator-vs-mutator fence — [[fencedAppend]]'s twin for
    * the other side of the single-writer contract. A rebuild reads its
    * corpus at time T and publishes at T+hours (at 100 TB the staged
    * build IS hours); a mutation landing in between would be silently
    * absent from the new generations. It aborts LOUDLY instead: the
    * staged output is discarded, the store is untouched, and the caller
    * re-runs after quiescing its mutators. Checked BEFORE the publish, so
    * a failed mutator can never half-publish.
    */
  private[graft] def verifyUnmoved(spark: SparkSession, path: String,
                                   snap: StoreSnapshot, stampSeq: Long,
                                   stage: String, what: String): Unit =
    moved(spark, path, snap, stampSeq).foreach { seqNow =>
      abortRaced(spark, path, stage, what,
        s"the store's mutation counter moved $stampSeq -> $seqNow (or a " +
          "compaction flipped a generation)")
    }

  /** The store's current mutation seq if it moved past `stampSeq` or a
    * committed generation changed since `snap`, else None.
    */
  private def moved(spark: SparkSession, path: String, snap: StoreSnapshot,
                    stampSeq: Long): Option[Long] = {
    val seqNow = Tombstones.currentSeq(spark, path)
    if (seqNow != stampSeq || snapshotStore(spark, path).gens != snap.gens)
      Some(seqNow)
    else None
  }

  private[graft] def abortRaced(spark: SparkSession, path: String,
                                stage: String, what: String,
                                detail: String): Nothing = {
    dropDir(spark, stage)
    throw new IllegalStateException(
      s"$what raced a concurrent mutation on $path: $detail after the " +
        s"$what read its inputs, so the staged output would silently " +
        "lack that mutation. Rebuilds/folds and mutators are " +
        "single-writer — the staged output was discarded and the store " +
        "is UNCHANGED (it still serves every mutation, including the " +
        "racing one); quiesce appends/deletes/upserts/compactions and " +
        s"re-run the $what.")
  }

  /** THE publish — every replacement of a kind (compaction, fold,
    * rebuild) ends here. Every kind staged under `stage` is renamed to
    * generation `n` and all of them are committed by ONE `commit_v<n>`
    * file create, so a plan never mixes kinds of different publishes
    * (new centroids with old postings would be garbage probes, not stale
    * data). `n` is 1 + the highest generation of ANY kind or marker on
    * disk: a store-level marker commits every directory carrying its
    * number, so a number already used by another kind — committed, or a
    * crashed publish's leftover — must never be reused. Per-directory
    * `_SUCCESS` files are stripped before the renames, so no staged kind
    * commits itself ahead of its siblings.
    *
    * Crash points: before the marker create, the renamed directories are
    * uncommitted and the store serves its pre-state; the next call of
    * the mutator publishes past them and retires them. After it, the
    * store serves the post-state. `consumed` — the input files or
    * directories the new generations folded in (tombstones, append
    * sidecars) — are deleted right after the marker, then every
    * generation of a published kind older than the grace generation (the
    * pre-publish live one, which a pre-planned serve may still read) is
    * retired. Each new generation records the data files `consumed`
    * named (`_consumed`, written before the renames), so a publish that
    * died among those deletes cannot have its leftovers consumed again:
    * [[unconsumed]] skips and deletes what the live generation records.
    *
    * `recheck = Some((snap, stampSeq))` re-verifies the conflict fence
    * after the renames, IMMEDIATELY before the marker create (renames take
    * real time on an object store); the renamed directories are still
    * uncommitted there, so aborting only deletes them. The residual window
    * is the marker create itself, which the [[Lease]] closes for every API
    * writer.
    */
  private[graft] def publish(spark: SparkSession, path: String, stage: String,
                             what: String,
                             recheck: Option[(StoreSnapshot, Long)] = None,
                             consumed: Seq[String] = Nil): Unit = {
    val root = new Path(path)
    val f = fs(spark, root)
    val kinds = AllKinds.filter(k => f.exists(new Path(s"$stage/$k")))
    if (kinds.nonEmpty) {
      val grace = kinds.map(k =>
        k -> committed(spark, path, k).sortBy(_._1).lastOption.map(_._2.getName)).toMap
      val n = 1 + listRoot(spark, path).map(_.getPath.getName).flatMap { name =>
        if (name.startsWith(CommitPrefix))
          scala.util.Try(name.stripPrefix(CommitPrefix).toInt).toOption
        else versionOfAny(name)
      }.foldLeft(0)(math.max)
      val rootQ = f.makeQualified(root)
      val record = consumed.flatMap(c => leafFiles(f, f.makeQualified(new Path(c))).toSeq.flatten)
        .map(st => relativeTo(rootQ, st.getPath))
      kinds.foreach { k =>
        f.delete(new Path(s"$stage/$k/_SUCCESS"), false)
        if (record.nonEmpty) {
          val out = f.create(new Path(s"$stage/$k/$ConsumedRecord"), true)
          try out.write(record.mkString("\n").getBytes("UTF-8")) finally out.close()
        }
        require(f.rename(new Path(s"$stage/$k"), new Path(s"$path/${k}_v$n")),
          s"$what publish: rename of $k into generation v$n failed at $path")
      }
      for ((snap, stampSeq) <- recheck; seqNow <- moved(spark, path, snap, stampSeq)) {
        kinds.foreach { k => f.delete(new Path(s"$path/${k}_v$n"), true); () }
        abortRaced(spark, path, stage, what,
          s"the store's mutation counter moved $stampSeq -> $seqNow (or " +
            "a compaction flipped a generation) between the staged " +
            "renames and the commit-marker create")
      }
      dropDir(spark, stage)
      f.create(new Path(root, s"$CommitPrefix$n")).close() // THE atomic flip
      consumed.foreach { c => f.delete(new Path(c), true); () }
      kinds.foreach { k =>
        val keep = Set(s"${k}_v$n") ++ grace(k)
        generations(spark, path, k).foreach { case (_, p) =>
          if (!keep.contains(p.getName)) { f.delete(p, true); () }
        }
      }
      dropStoreCommits(spark, path)
      Cache.drop(f.makeQualified(root).toString)
    } else dropDir(spark, stage)
  }

  /** The staged-rebuild skeleton both stores run: stamp a fresh mutation
    * seq (rows republished under surviving tombstones must outrank them),
    * check nothing moved since `snap` (taken before the caller read its
    * corpus), `stageAll(stage, stampSeq)` every kind into the stage, then
    * `midHook` (a test seam: the specs inject a racing mutation there),
    * the conflict fence and the one publish.
    */
  private[graft] def rebuildStaged(spark: SparkSession, path: String,
                                   snap: StoreSnapshot, midHook: () => Unit,
                                   consumed: Seq[String] = Nil)
                                  (stageAll: (String, Long) => Unit): Unit = {
    val stampSeq = Tombstones.nextSeq(spark, path)
    val stage = s"$path/_rebuild_stage"
    // a mutation between the snapshot and this bump already raced the
    // corpus read — abort BEFORE paying for the staged build
    if (stampSeq != snap.seq + 1)
      abortRaced(spark, path, stage, "rebuild",
        s"the store's mutation counter moved ${snap.seq} -> " +
          s"${stampSeq - 1} between the corpus snapshot and the rebuild " +
          "stamp")
    dropDir(spark, stage) // a crashed rebuild's leftover stage is dead weight
    stageAll(stage, stampSeq)
    midHook()
    verifyUnmoved(spark, path, snap, stampSeq, stage, "rebuild")
    publish(spark, path, stage, "rebuild", Some((snap, stampSeq)), consumed)
  }

  /** Compact `kinds` (those the store carries) back to one file per
    * partition: each live generation is rewritten into a stage — masked
    * rows purged by the `consumed` tombstone files, re-sorted by
    * `sortCols` within each partition — and published as one new
    * generation. The previous generation stays as the grace generation,
    * so a serve planned before the flip still completes. The rewrite
    * reads with mergeSchema, so a store whose files disagree on metadata
    * columns compacts to the union schema. A delete landing after the
    * tombstone listing keeps masking and is consumed next time.
    */
  private[graft] def compact(spark: SparkSession, path: String,
                             kinds: Seq[String], partitionCol: String,
                             sortCols: Seq[String], idCol: String,
                             consumed: Seq[String]): Unit = {
    val tomb = Tombstones.readFiles(spark, consumed)
    val stage = s"$path/_compact_stage"
    dropDir(spark, stage) // a crashed compaction's leftover stage
    val live = committedKinds(spark, path)
    kinds.filter(live).foreach { kind =>
      val rewritten = Tombstones.mask(
        read(spark, liveDir(spark, path, kind), mergeSchema = true),
        tomb, idCol)
        .repartition(col(partitionCol))
      // sort by (partitionCol, sortCols...): the partition-column prefix
      // satisfies the partitioned write's required ordering, so the write
      // adds no second sort and each file still comes out sortCols-ordered
      (if (sortCols.isEmpty) rewritten
       else rewritten.sortWithinPartitions((partitionCol +: sortCols).map(col): _*))
        .write.mode("overwrite").partitionBy(partitionCol).parquet(s"$stage/$kind")
    }
    publish(spark, path, stage, "compaction", consumed = consumed)
    // compaction is the store's housekeeping window; nothing else prunes seq/
    Tombstones.collapseSeq(spark, path)
  }

  /** Tombstone a batch of ids (column `idCol`) — O(batch), no partition
    * rewrite; masked from the next serve's plan on ([[Tombstones]]).
    */
  private[graft] def delete(spark: SparkSession, path: String, ids: DataFrame,
                            idCol: String, what: String): Unit =
    Lease.withLease(spark, path, what) {
      Tombstones.write(spark, path, ids, idCol)
    }

  /** Predicate deletion (DELETE WHERE): tombstone every CURRENTLY-SERVED
    * id of `kind` matching `pred` — a predicate over the store's own
    * columns, metadata included. One pruned scan of the live generation,
    * resolved against the MASKED store, so already-masked ids are not
    * re-tombstoned (idempotent under re-runs).
    */
  private[graft] def deleteWhere(spark: SparkSession, path: String, kind: String,
                                 idCol: String, pred: Column, what: String): Unit =
    Lease.withLease(spark, path, what) {
      val ids = Tombstones.mask(read(spark, liveDir(spark, path, kind)),
        Tombstones.readAll(spark, path), idCol)
        .where(pred).select(idCol).distinct()
      Tombstones.write(spark, path, ids, idCol)
    }

  /** The deletion-mass hook: one row (`storedName`, n_tombstones,
    * n_masked, masked_frac) over the live `kind` rows, each counted as
    * (id, ins_seq) — distinct per stored version when `versions` (a
    * dense PQ store repeats a version nSub times), per row otherwise.
    * One pass over the store: tombstones pre-aggregated to max(del_seq)
    * per id (a row is masked iff SOME del_seq ≥ its ins_seq ⟺ the max
    * is), stored and masked counted from one left join; n_tombstones is
    * the pre-aggregate's own row count, so tombstoned ids absent from the
    * store count too.
    */
  private[graft] def deleteStats(spark: SparkSession, path: String, kind: String,
                                 idCol: String, versions: Boolean,
                                 storedName: String): DataFrame = {
    import spark.implicits._
    val live = read(spark, liveDir(spark, path, kind))
    val insSeq =
      if (live.columns.contains("ins_seq")) coalesce(col("ins_seq"), lit(0L))
      else lit(0L)
    val rows = live.select(col(idCol), insSeq.as("ins_seq"))
    val stored = if (versions) rows.distinct() else rows
    val (nStored, nTomb, masked) = Tombstones.readAll(spark, path) match {
      case None => (stored.count(), 0L, 0L)
      case Some(t) =>
        val tt = t.groupBy(col(idCol).as("__tomb_id"))
          .agg(max("del_seq").as("__tomb_seq"))
        val row = stored.join(tt, col(idCol) === col("__tomb_id"), "left")
          .agg(count(lit(1)).as("stored"),
            count(when(col("__tomb_seq") >= col("ins_seq"), lit(1)))
              .as("masked"))
          .head()
        (row.getLong(0), tt.count(), row.getLong(1))
    }
    Seq((nStored, nTomb, masked))
      .toDF(storedName, "n_tombstones", "n_masked")
      .withColumn("masked_frac",
        round(col("n_masked").cast("double") / col(storedName), 4))
  }

  /** Reclaim SUPERSEDED generations — the explicit end of the MVCC
    * story. Every publish retires generations older than its grace
    * window, but a store that is rebuilt once and then only APPENDED
    * keeps its superseded full-size generation forever. `vacuum` deletes,
    * per kind, every generation below the newest `keepGenerations`
    * committed ones (crashed publishes' uncommitted leftovers below the
    * live generation included), drops the commit markers no surviving
    * generation carries the number of, and collapses the mutation-counter
    * markers.
    *
    * GRACE-WINDOW contract: `keepGenerations = 1` keeps ONLY the live
    * generation — correct once every serve planned before the last flip
    * has drained (a parquet plan pins file paths). `keepGenerations = 2`
    * preserves the one-flip grace window and is safe whenever a
    * compaction itself is. Single-writer, like every store mutation.
    *
    * Returns one row: (generations_removed, bytes_reclaimed).
    */
  def vacuum(spark: SparkSession, path: String,
             keepGenerations: Int = 1): DataFrame =
    Lease.withLease(spark, path, "vacuum") {
    require(keepGenerations >= 1, "must keep at least the live generation")
    import spark.implicits._
    val f = fs(spark, new Path(path))
    def treeBytes(p: Path): Long = {
      val it = f.listFiles(p, true)
      var n = 0L
      while (it.hasNext) n += it.next().getLen
      n
    }
    var dirsRemoved = 0L
    var bytes = 0L
    AllKinds.foreach { k =>
      val gens = generations(spark, path, k)
      val live = gens.filter { case (_, p) => isCommitted(spark, p) }.sortBy(-_._1)
      if (live.nonEmpty) {
        val keepNames = live.take(keepGenerations).map(_._2.getName).toSet
        gens.foreach { case (v, p) =>
          // an uncommitted directory ABOVE the live generation could be an
          // in-flight publish under a violated single-writer contract
          if (v < live.head._1 && !keepNames.contains(p.getName)) {
            bytes += treeBytes(p)
            dirsRemoved += 1
            f.delete(p, true); ()
          }
        }
      }
    }
    bytes += dropStoreCommits(spark, path)
    Tombstones.collapseSeq(spark, path)
    Seq((dirsRemoved, bytes)).toDF("generations_removed", "bytes_reclaimed")
  }
}
