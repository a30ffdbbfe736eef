package graft.ml

import graft.SparkSpec

/** [[Ckpt.cut]]'s policy seam. Only the LOCAL path is unit-testable: the
  * shared test SparkContext has no un-set for a checkpoint dir, so
  * flipping it here would silently switch every later suite's lineage
  * cuts to reliable checkpoints. The reliable path's contract (survives
  * executor SIGKILL, bit-equal result) is the measured A/B in SCALING.md
  * "The BATCH surface under executor loss".
  */
class CkptSpec extends SparkSpec {
  import spark.implicits._

  test("cut without a checkpoint dir takes the local path (pinned blocks)") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "test precondition: no checkpoint dir on the shared session")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val df = Ckpt.cut(Seq(1, 2, 3).toDF("x"))
    assert(df.as[Int].collect().sorted === Array(1, 2, 3))
    val created = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(created.nonEmpty, "local path must pin checkpoint blocks")
    created.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
  }

  test("the extension syntax routes through cut") {
    import Ckpt.CutOps
    val df = Seq(4, 5).toDF("x").lineageCut
    assert(df.as[Int].collect().sorted === Array(4, 5))
  }
}
