package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sequence-stamped tombstones: row deletion for the persisted stores
  * ([[Index]] by `vec_id`, [[LexIndex]] by `doc_id`) without rewriting
  * the cell/bucket partitions a delete touches.
  *
  * The problem a naive id-tombstone cannot solve is UPSERT: replace a
  * vector/document means "mask the stored rows, then append the new
  * version" — but a tombstone that matches on id alone would mask the
  * new version too, and physically rewriting the touched partitions per
  * delete is a corpus-scale write for a batch-scale operation. The
  * standard resolution (Lucene's delete-then-add ordering, the same
  * role Delta/Iceberg sequence numbers play for their deletion vectors)
  * is a store-local MUTATION SEQUENCE:
  *   - every data row carries `ins_seq` — 0 for build rows, the
  *     mutation counter's value for appended rows;
  *   - every tombstone carries `del_seq` — the counter at delete time;
  *   - a tombstone masks a row iff ids match AND `del_seq >= ins_seq`.
  * An upsert is then literally delete (seq s) + append (seq s+1): the
  * old rows are masked, the new ones outrank the tombstone, and no
  * partition is rewritten. Deletes are O(batch) writes; the masking
  * anti-join at serve time touches only the probed/pruned candidate
  * rows (query-bounded) against the tombstone set (bounded by deletes
  * since the last compaction — [[Index.compact]] /
  * [[LexIndex.compactLexical]] fold tombstones into the rewrite,
  * physically purging masked rows and CONSUMING exactly the tombstone
  * files their listing read, so a delete landing mid-compaction
  * survives to mask the next generation instead of being silently
  * dropped).
  *
  * On-disk: `tombstones/` parquet (id, del_seq), one file per delete
  * batch; `seq/` empty marker files named by counter value (the same
  * single-file-create atomicity the commit markers use — no
  * read-modify-write window). Mutations share the store's single-writer
  * contract; readers need no coordination.
  */
private[graft] object Tombstones {
  import org.apache.hadoop.fs.Path

  private def tombDir(path: String) = new Path(s"$path/tombstones")
  private def seqDir(path: String) = new Path(s"$path/seq")

  /** Read the store's mutation counter WITHOUT bumping it — the
    * conflict-detection probe: a rebuild/fold snapshots this when it
    * reads its inputs and re-checks at publish time; any interleaved
    * append/delete/upsert bumped the counter in between and the
    * publisher aborts instead of silently losing the mutation.
    */
  def currentSeq(spark: SparkSession, path: String): Long = {
    val dir = seqDir(path)
    val fs = Store.fs(spark, dir)
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).iterator
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .foldLeft(0L)(math.max)
  }

  /** Bump + return the store's mutation counter. Crash-safe by
    * construction: the counter is the max over marker-file NAMES, and a
    * new value exists only once its single-file create succeeds —
    * there is no state where a reader can observe a torn counter.
    *
    * The create is EXCLUSIVE (`overwrite = false`): two concurrent
    * bumps that both computed `cur = N` must not both "create" marker
    * N+1 successfully — they would share one seq value, the rebuild
    * fence's `stampSeq == snap.seq + 1` pre-check and [[Index]]'s
    * `verifyUnmoved` would both pass, and the racing batch would be
    * silently absent from the published generations (exactly the
    * lost-update the fence exists to make loud). The loser's create
    * throws FileAlreadyExistsException and it retries with the next
    * number, so every mutation owns a distinct counter value.
    */
  /** Per-path JVM locks serializing in-process bumps: on HDFS-like
    * stores the exclusive create is atomic at the namenode, but
    * RawLocalFileSystem's `create(f, false)` is check-then-act — two
    * same-JVM threads in a tight race could both "create" one marker.
    * Layered guarantee: exact within a JVM (this lock), exact across
    * processes wherever the FS create is atomic (HDFS and every real
    * deployment store), best-effort on a shared local directory.
    */
  private val bumpLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def nextSeq(spark: SparkSession, path: String): Long = {
    val dir = seqDir(path)
    val fs = Store.fs(spark, dir)
    val lock = bumpLocks.computeIfAbsent(dir.toString, _ => new Object)
    lock.synchronized {
      fs.mkdirs(dir)
      var next = currentSeq(spark, path) + 1
      var created = false
      while (!created) {
        try {
          fs.create(new Path(dir, next.toString), false).close()
          created = true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => next += 1
          case _: java.nio.file.FileAlreadyExistsException => next += 1
        }
      }
      next
    }
  }

  /** A fresh build owes nothing to the previous store's mutation
    * history (the [[LexIndex.saveLexical]] sidecar contract).
    */
  def clear(spark: SparkSession, path: String): Unit =
    Seq(tombDir(path), seqDir(path)).foreach(d => Store.dropDir(spark, d.toString))

  /** Collapse `seq/` to its single max marker. [[nextSeq]] lists the
    * whole directory per mutation, and nothing else prunes it — a
    * long-running upsert stream (two bumps per micro-batch) would
    * otherwise accumulate unbounded marker files with O(n) listing cost
    * per append. Called by the compactors inside the store's
    * single-writer window; safe regardless: the max marker already
    * exists, and deleting lower markers can never lower the observed
    * counter.
    */
  def collapseSeq(spark: SparkSession, path: String): Unit = {
    val dir = seqDir(path)
    val fs = Store.fs(spark, dir)
    if (fs.exists(dir)) {
      val vals = fs.listStatus(dir).toSeq
        .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      if (vals.length > 1) {
        val keep = vals.max
        vals.filter(_ != keep).foreach { v =>
          fs.delete(new Path(dir, v.toString), false); ()
        }
      }
    }
  }

  /** Tombstone a batch of ids: one appended file, stamped with a fresh
    * `del_seq`. O(batch) — no store partition is touched.
    */
  def write(spark: SparkSession, path: String, ids: DataFrame,
            idCol: String): Unit = {
    require(ids.columns.contains(idCol),
      s"delete batch must carry the store's id column `$idCol`")
    val s = nextSeq(spark, path)
    ids.select(col(idCol)).distinct()
      .withColumn("del_seq", lit(s))
      .coalesce(1)
      .write.mode("append").parquet(tombDir(path).toString)
  }

  /** The tombstone data files on disk right now — the unit of
    * compaction consumption (a compaction purges exactly the files it
    * listed and deletes exactly those, so tombstones written after the
    * listing survive).
    */
  def listFiles(spark: SparkSession, path: String): Seq[String] =
    Store.listParquet(spark, tombDir(path).toString)

  def readFiles(spark: SparkSession, files: Seq[String]): Option[DataFrame] =
    if (files.isEmpty) None else Some(Store.readFiles(spark, files))

  /** Every live tombstone of the store, or None when there are none
    * (the overwhelmingly common case — the serve paths skip the
    * anti-join entirely).
    */
  def readAll(spark: SparkSession, path: String): Option[DataFrame] =
    readFiles(spark, listFiles(spark, path))

  /** Apply the mask: drop rows whose id is tombstoned by a delete at or
    * after the row's insertion. Rows from stores predating the seq
    * column (no `ins_seq`) are build-time rows — seq 0. The anti-join's
    * left side is always an already-pruned candidate set (probed cells /
    * seed buckets), so the join is query-bounded × tombstone-bounded;
    * the tombstone side is small between compactions and AQE broadcasts
    * it when it is.
    */
  def mask(df: DataFrame, tomb: Option[DataFrame], idCol: String): DataFrame =
    tomb.fold(df) { t =>
      val tt = t.select(col(idCol).as("__tomb_id"),
        col("del_seq").as("__tomb_seq"))
      val insSeq =
        if (df.columns.contains("ins_seq")) coalesce(col("ins_seq"), lit(0L))
        else lit(0L)
      df.join(tt, df(idCol) === tt("__tomb_id") && tt("__tomb_seq") >= insSeq,
        "left_anti")
    }
}
