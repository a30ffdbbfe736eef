package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The cross-process single-writer lease ([[Lease]]): a second writer
  * fails AT ACQUISITION (before paying for any staged work), a crashed
  * holder's stale lease is taken over, concurrent mutation-counter bumps
  * can never collapse into one seq value, and the maintenance tick
  * composes the whole lifecycle under one lease window.
  */
class LeaseSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_lease_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def emb = (0L until 120L).map { i =>
    val v = (0 until 8).map(d => math.sin(i * 1.37 + d * 0.73).toFloat)
    (i, v)
  }.toDF("vec_id", "embedding")

  /** Run `body` while another thread holds the store's writer lease
    * (parked inside a rebuild's midHook); returns after the rebuild
    * completes.
    */
  private def whileRebuildHoldsLease[T](path: String)(body: => T): T = {
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      Index.rebuild(spark, path, { () =>
        entered.countDown()
        release.await()
      }))
    holder.start()
    entered.await()
    try body
    finally {
      release.countDown()
      holder.join()
    }
  }

  test("a second rebuild fails at lease acquisition while one runs") {
    val path = freshPath("tworebuilds")
    Index.saveIvf(emb, path)
    whileRebuildHoldsLease(path) {
      val ex = intercept[IllegalStateException] {
        Index.rebuild(spark, path)
      }
      assert(ex.getMessage.contains("writer lease"),
        s"expected a lease-acquisition failure, got: ${ex.getMessage}")
      assert(ex.getMessage.contains("rebuild@"),
        "the abort message should name the current holder")
    }
    // the winning rebuild published; the lease is released
    assert(!Lease.isHeld(spark, path))
    val served = Index.ivfTopKIndexed(spark, path,
      emb.where(pmod(col("vec_id"), lit(10)) === 0), k = 5)
    assert(served.count() > 0)
  }

  test("an append during a held lease aborts before writing") {
    val path = freshPath("appendheld")
    Index.saveIvf(emb.where(col("vec_id") < 100), path)
    whileRebuildHoldsLease(path) {
      val ex = intercept[IllegalStateException] {
        Index.appendIvf(spark, path, emb.where(col("vec_id") >= 100))
      }
      assert(ex.getMessage.contains("writer lease"))
      // nothing was written: the batch is absent, the rebuild (same
      // thread as its own lease) is untouched
      val stored = spark.read
        .parquet(Store.liveDir(spark, path, Store.PostingsKind))
        .select("vec_id").as[Long].collect().toSet
      assert(!stored.exists(_ >= 100L),
        "a lease-blocked append still wrote rows")
    }
    // quiesced, the append succeeds
    Index.appendIvf(spark, path, emb.where(col("vec_id") >= 100))
    val stored = spark.read
      .parquet(Store.liveDir(spark, path, Store.PostingsKind))
      .select("vec_id").as[Long].collect().toSet
    assert((100L until 120L).forall(stored.contains))
  }

  test("a stale lease from a crashed holder is taken over") {
    val path = freshPath("stale")
    Index.saveIvf(emb.where(col("vec_id") < 100), path)
    // simulate a crashed holder: a lease file whose mtime is 2 h old
    // (past the 1 h default TTL)
    val lp = new org.apache.hadoop.fs.Path(s"$path/${Lease.LeaseFile}")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lp, false)
    out.write("crashed@nowhere".getBytes("UTF-8"))
    out.close()
    fs.setTimes(lp, System.currentTimeMillis() - 2L * 60 * 60 * 1000, -1)
    // the next mutator takes the lease over and proceeds
    Index.appendIvf(spark, path, emb.where(col("vec_id") >= 100))
    assert(!Lease.isHeld(spark, path), "takeover left the lease behind")
    val stored = spark.read
      .parquet(Store.liveDir(spark, path, Store.PostingsKind))
      .select("vec_id").as[Long].collect().toSet
    assert((100L until 120L).forall(stored.contains))
  }

  test("a FRESH lease blocks; it releases on the holder's failure too") {
    val path = freshPath("freshheld")
    Index.saveIvf(emb, path)
    // a fresh (not stale) foreign lease blocks every mutator
    val lp = new org.apache.hadoop.fs.Path(s"$path/${Lease.LeaseFile}")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lp, false).close()
    val ex = intercept[IllegalStateException] {
      Index.delete(spark, path, emb.where(col("vec_id") === 3L)
        .select("vec_id"))
    }
    assert(ex.getMessage.contains("writer lease"))
    fs.delete(lp, false)
    // a mutator that THROWS still releases its lease (finally path):
    // appendIvf validates metaCols after acquiring
    intercept[IllegalArgumentException] {
      Index.appendIvf(spark, path,
        emb.withColumn("bogus", lit(1)), metaCols = Seq("bogus"))
    }
    assert(!Lease.isHeld(spark, path),
      "a failed mutator left its lease behind")
  }

  test("concurrent nextSeq bumps never share a value (create-exclusive)") {
    val path = freshPath("seqrace")
    val n = 8
    val perThread = 5
    val results = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]())
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until n).map { _ =>
      new Thread(() => {
        start.await()
        (0 until perThread).foreach { _ =>
          assert(results.add(Tombstones.nextSeq(spark, path)),
            "two concurrent bumps returned the SAME seq value")
        }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(results.size === n * perThread)
    assert(Tombstones.currentSeq(spark, path) === (n * perThread).toLong)
  }

  test("maintenanceTick: one lease window, decision + action + vacuum") {
    val path = freshPath("tick")
    // the standard degraded fixture: 4-cell build + full-corpus append
    // + deletes → dilution 4 > 2 → the tick must rebuild, then reclaim
    // the two superseded v0 generations (postings + centroids)
    Index.saveIvf(emb.where(col("vec_id") < 30), path, nCells = 4)
    Index.appendIvf(spark, path, emb.where(col("vec_id") >= 30))
    Index.delete(spark, path,
      emb.where(pmod(col("vec_id"), lit(7)) === 3).select("vec_id"))
    val row = Index.maintenanceTick(spark, path, vacuumKeep = 1).head()
    assert(row.getString(0) === "rebuild")
    assert(row.getAs[Long]("generations_removed") === 2L)
    assert(row.getAs[Long]("bytes_reclaimed") > 0L)
    assert(!Lease.isHeld(spark, path), "the tick left its lease behind")
    // the store serves fresh-build semantics afterwards
    val served = Index.ivfTopKIndexed(spark, path,
      emb.where(pmod(col("vec_id"), lit(10)) === 0), k = 20)
      .select("neighbor_id").as[Long].collect()
    assert(served.nonEmpty && served.forall(v => (v % 7 + 7) % 7 != 3))
    // a second tick on the now-healthy store: no action, nothing to vacuum
    val row2 = Index.maintenanceTick(spark, path, vacuumKeep = 1).head()
    assert(row2.getString(0) === "none")
    assert(row2.getAs[Long]("generations_removed") === 0L)
  }

  test("publishStage's last-instant recheck aborts on a late mutation") {
    val path = freshPath("recheck")
    Index.saveIvf(emb, path)
    val snap = Store.snapshotStore(spark, path)
    // hand-build a staged postings dir (content irrelevant — the abort
    // must fire before the commit marker)
    val stage = s"$path/_rebuild_stage"
    emb.limit(5).withColumn("cell", lit(0L))
      .write.mode("overwrite").parquet(s"$stage/${Store.PostingsKind}")
    // a mutation lands AFTER verifyUnmoved would have passed (we replay
    // the exact window: snapshot taken, then the counter moves)
    Index.delete(spark, path,
      emb.where(col("vec_id") === 1L).select("vec_id"))
    val ex = intercept[IllegalStateException] {
      Store.publish(spark, path, stage, "rebuild",
        recheck = Some((snap, snap.seq)))
    }
    assert(ex.getMessage.contains("commit-marker create"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the renamed-but-uncommitted generation was rolled back and no
    // commit marker exists — the store is exactly its pre-publish self
    assert(Store.generations(spark, path, Store.PostingsKind)
      .map(_._1).toSet === Set(0))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/commit_v1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stage)),
      "aborted publish left its staging directory behind")
  }
}
