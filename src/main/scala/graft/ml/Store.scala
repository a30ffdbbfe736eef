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
  *   - `tombstones/` and `seq/` — [[Tombstones]]; `_writer_lease` —
  *     [[Lease]].
  *
  * Readers resolve the highest committed generation of each kind
  * ([[liveDir]]); the generation before it stays on disk as the grace
  * generation a pre-planned serve may still read, until the next publish
  * of that kind or a [[vacuum]] retires it.
  */
object Store {

  /** The data kinds. Centroids and codewords are the dense build's
    * quantizers (replaced only by a rebuild); postings, the three code
    * kinds and terms are data (compactions and folds replace them too).
    */
  private[graft] val CentroidsKind = "centroids"
  private[graft] val CodewordsKind = "codewords"
  private[graft] val PostingsKind = "postings"
  private[graft] val PqCodesKind = "pq_codes"
  private[graft] val SqCodesKind = "sq_codes"
  private[graft] val MrlCodesKind = "mrl_codes"
  private[graft] val TermsKind = "terms"
  private val AllKinds = Seq(CentroidsKind, CodewordsKind, PostingsKind,
    PqCodesKind, SqCodesKind, MrlCodesKind, TermsKind)

  private val CommitPrefix = "commit_v"

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
    * probed partition directories (basePath + explicit paths — full
    * partition discovery lists every partition before pruning, a driver
    * cost that grows with the grid; at a 2,500-bucket lexical grid it
    * quadrupled a 5-seed serve), and the literal isin on the partition
    * column stays on top, keeping the prune visible in the plan
    * (PlanSpec pins PartitionFilters).
    */
  private[graft] def prunedToProbes(spark: SparkSession, dir: String,
                                    probeVals: Array[Long],
                                    partitionCol: String = "cell"): DataFrame = {
    val base = new Path(dir)
    val f = fs(spark, base)
    // existence-filter the probed dirs: a probed partition can be empty
    // and parquet refuses missing paths. The probes are checked
    // CONCURRENTLY (bounded pool): serially this is one storage
    // round-trip per probed partition, which at object-store latency
    // dominates plan time. Order-preserving, so the read's path list is
    // byte-identical to the serial check.
    val paths = probeVals.map(v => new Path(base, s"$partitionCol=$v"))
    val dirs: Array[String] =
      if (paths.length <= 1) paths.filter(f.exists).map(_.toString)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, paths.length))
        try {
          val checks = paths.map { p =>
            pool.submit(new java.util.concurrent.Callable[Boolean] {
              def call(): Boolean = f.exists(p)
            })
          }
          paths.zip(checks).collect {
            case (p, c) if c.get() => p.toString
          }
        } catch {
          // the serial path's error shape (an fs.exists IOException
          // propagated directly), and still-queued checks cancelled
          case e: java.util.concurrent.ExecutionException =>
            pool.shutdownNow()
            throw Option(e.getCause).getOrElse(e)
        } finally pool.shutdown()
      }
    val pruned =
      if (dirs.isEmpty) spark.read.parquet(dir).where(lit(false))
      else spark.read.option("basePath", dir).parquet(dirs.toSeq: _*)
    pruned.where(col(partitionCol).isin(probeVals.toSeq: _*))
  }

  /** The metadata columns a store was BUILT with, read from its parquet
    * schema (footer-only). mergeSchema: on a legacy mixed-schema store
    * (pre-validation appends that omitted metaCols) the UNION schema must
    * decide, or a sampled footer could miss a metadata column and wave
    * through exactly the unfilterable append [[appendMetaCols]] rejects.
    */
  private[graft] def storedMetaCols(spark: SparkSession, dir: String,
                                    core: Set[String]): Seq[String] =
    spark.read.option("mergeSchema", "true").parquet(dir)
      .schema.map(_.name).filterNot(core.contains)

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
    * store serves the post-state. `consumed` — the input files the new
    * generations folded in (tombstones, append sidecars) — are deleted
    * right after the marker, then every generation of a published kind
    * older than the grace generation (the pre-publish live one, which a
    * pre-planned serve may still read) is retired.
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
      kinds.foreach { k =>
        f.delete(new Path(s"$stage/$k/_SUCCESS"), false)
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
        spark.read.option("mergeSchema", "true").parquet(liveDir(spark, path, kind)),
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
      val ids = Tombstones.mask(spark.read.parquet(liveDir(spark, path, kind)),
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
    val live = spark.read.parquet(liveDir(spark, path, kind))
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
