package graft.ml

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path

/** Cross-process WRITER LEASE for the persisted stores ([[Index]],
  * [[LexIndex]]): one `_writer_lease` file under the store root,
  * acquired create-exclusively (`fs.create(path, overwrite = false)` —
  * the same single-file-create atomicity the commit markers and the
  * mutation-counter markers rely on) by every mutating entry point and
  * deleted on completion.
  *
  * Why it exists: the in-process fences ([[Store.fencedAppend]],
  * [[Store.verifyUnmoved]]) turn a VIOLATED single-writer contract into
  * a loud abort after the fact, but they cannot stop two DRIVERS — two
  * rebuilds launched from two processes, or a rebuild racing an external
  * compactor — from both paying for hours of staged work before one
  * aborts, and `verifyUnmoved` necessarily leaves a millisecond TOCTOU
  * window between its check and the commit-marker create. The lease
  * closes both: a second writer fails AT ACQUISITION, before any work,
  * with a message naming the current holder; and a mutation cannot land
  * inside another mutator's window because it cannot acquire the lease
  * at all. The fences stay as defense-in-depth (a writer that bypasses
  * this API — or a lease deleted by hand — is still caught).
  *
  * RE-ENTRANT per thread: the composed mutators (upsert = delete +
  * append, maintain = rebuild/compact + vacuum, rebuild = staged saves)
  * nest public entry points; the inner call sees its thread already
  * holds the path's lease and passes through, so the whole composition
  * runs under ONE lease window.
  *
  * STALE-LEASE TAKEOVER: a holder that crashed leaves its lease file
  * behind and would otherwise wedge the store forever. A lease older
  * than [[TtlMs]] (1 h) is treated as abandoned: the waiter deletes it
  * and retries the exclusive create — if two waiters race the takeover,
  * the create picks exactly one winner and the loser aborts against the
  * fresh lease. A mutation legitimately longer than the TTL (a 100-TB
  * rebuild) can be taken over under a LIVE holder, which degrades to the
  * fence-only guarantees. Holders could alternatively heartbeat the
  * file's mtime; this implementation keeps the lease a single
  * create/delete pair and documents the TTL contract instead.
  *
  * READERS NEED NO LEASE — serves plan against committed generations
  * and the grace window keeps pre-flip plans executable (the MVCC
  * contract, unchanged).
  */
private[graft] object Lease {

  /** Store paths whose lease THIS thread currently holds (normalized to
    * the URI path so `/x/store` and `file:/x/store` coincide).
    */
  private val held = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue(): scala.collection.mutable.Set[String] =
      scala.collection.mutable.Set[String]()
  }

  /** In-process acquisition registry: the FS exclusive create is atomic
    * on HDFS-like stores but check-then-act on RawLocalFileSystem, so
    * two same-JVM threads in a tight race could both "create" the lease
    * file. This map makes same-JVM acquisition exact everywhere (value
    * = holder description for the abort message); the lease FILE stays
    * the cross-process mechanism.
    */
  private val inProcess =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] val LeaseFile = "_writer_lease"

  private def leasePath(path: String) = new Path(s"$path/$LeaseFile")

  /** Age past which a lease is taken to be abandoned by a crashed holder. */
  private[graft] val TtlMs: Long = 60L * 60 * 1000

  /** Run `body` as `path`'s single writer: acquire the lease (or fail
    * loudly naming the holder), release on every exit path. Nested calls
    * from the same thread pass through.
    */
  def withLease[T](spark: SparkSession, path: String, what: String)
                  (body: => T): T = {
    val key = new Path(path).toUri.getPath
    if (held.get.contains(key)) body
    else {
      acquire(spark, path, key, what)
      held.get += key
      try body
      finally {
        held.get -= key
        release(spark, path, key)
      }
    }
  }

  /** Whether a lease file currently exists (test/ops hook). */
  def isHeld(spark: SparkSession, path: String): Boolean = {
    val lp = leasePath(path)
    Store.fs(spark, lp).exists(lp)
  }

  private def acquire(spark: SparkSession, path: String, key: String,
                      what: String): Unit = {
    val info = what + "@" + java.lang.management.ManagementFactory
      .getRuntimeMXBean.getName + " thread=" +
      Thread.currentThread().getName
    // same-JVM exclusivity first (exact everywhere — see [[inProcess]])
    val prev = inProcess.putIfAbsent(key, info)
    if (prev != null)
      throw new IllegalStateException(
        s"$what cannot acquire the writer lease on $path: held in this " +
          s"process by [$prev]. The store's mutations are single-writer " +
          "— wait for the holder to finish.")
    val lp = leasePath(path)
    val fs = Store.fs(spark, lp)
    try {
      fs.mkdirs(lp.getParent)
      var acquired = false
      while (!acquired) {
        try {
          val out = fs.create(lp, false)
          out.write(info.getBytes("UTF-8"))
          out.close()
          acquired = true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            contend(fs, lp, path, what)
          case _: java.nio.file.FileAlreadyExistsException =>
            contend(fs, lp, path, what)
        }
      }
    } catch {
      case e: Throwable => inProcess.remove(key); throw e
    }
  }

  /** The create lost to an existing lease: take over if stale, retry if
    * it vanished (released between create and stat), abort loudly
    * otherwise.
    */
  private def contend(fs: org.apache.hadoop.fs.FileSystem, lp: Path,
                      path: String, what: String): Unit = {
    val st = try Some(fs.getFileStatus(lp)) catch {
      case _: java.io.FileNotFoundException => None
    }
    st match {
      case None => () // released in the window: loop retries the create
      case Some(s)
          if System.currentTimeMillis() - s.getModificationTime > TtlMs =>
        // stale: the holder crashed without releasing — take over.
        // Racing takeovers are safe: both delete (idempotent), the
        // exclusive create picks one winner, the loser aborts against
        // the winner's fresh lease on the next loop.
        System.err.println(s"[graft.Lease] taking over a stale writer " +
          s"lease on $path (age ${System.currentTimeMillis() -
            s.getModificationTime} ms > ttl $TtlMs ms)")
        fs.delete(lp, false); ()
      case Some(_) =>
        val holder = try {
          val in = fs.open(lp)
          val bytes = new Array[Byte](4096)
          val n = in.read(bytes)
          in.close()
          if (n > 0) new String(bytes, 0, n, "UTF-8") else "<unknown>"
        } catch { case _: java.io.IOException => "<unreadable>" }
        throw new IllegalStateException(
          s"$what cannot acquire the writer lease on $path: held by " +
            s"[$holder]. The store's mutations are single-writer — wait " +
            "for the holder to finish (its lease file is deleted on " +
            s"completion), or if it crashed, the lease expires after " +
            s"${TtlMs / 1000} s and the next mutator takes over.")
    }
  }

  private def release(spark: SparkSession, path: String,
                      key: String): Unit = {
    val lp = leasePath(path)
    Store.fs(spark, lp).delete(lp, false)
    inProcess.remove(key); ()
  }
}
