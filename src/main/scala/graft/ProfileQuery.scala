package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Optimization-round profiling aid: runs one registered query (warm-up
  * + one timed pass, the Bench methodology) and prints a PER-SPARK-JOB
  * wall-time breakdown — job id, seconds, and the call site that
  * launched it — so a 6-second lifecycle query decomposes into "which of
  * its ~30 actions cost what" without event-log spelunking. Usage:
  *   sbt "runMain graft.ProfileQuery <sfDir> <query> [query ...]"
  * Measurement tooling only — never on any query path.
  */
object ProfileQuery {
  private case class Job(id: Int, start: Long, var end: Long = -1L,
                         site: String = "")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    // per-run physical totals — the deterministic A/B metrics (wall time
    // on this box carries ±40-70% noise; bytes shuffled and tasks run do
    // not): shuffle write/read, input bytes, stage/task counts
    val shufW = new java.util.concurrent.atomic.AtomicLong
    val shufR = new java.util.concurrent.atomic.AtomicLong
    val inB = new java.util.concurrent.atomic.AtomicLong
    val nStages = new java.util.concurrent.atomic.AtomicLong
    val nTasks = new java.util.concurrent.atomic.AtomicLong
    def resetPhys(): Unit =
      Seq(shufW, shufR, inB, nStages, nTasks).foreach(_.set(0L))
    @volatile var capture = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (capture) {
          val m = sc.stageInfo.taskMetrics
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          inB.addAndGet(m.inputMetrics.bytesRead)
          nStages.incrementAndGet()
          nTasks.addAndGet(sc.stageInfo.numTasks)
          ()
        }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (capture) {
          // prefer the SQL execution's call site (covers broadcast/AQE
          // future jobs, whose own stage names are anonymous lambdas);
          // fall back to the last stage's name
          val exec = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          val site = exec.flatMap(id => Option(execDesc.get(id.toLong)))
            .orElse(js.stageInfos.lastOption.map(_.name)).getOrElse("?")
          jobs.put(js.jobId, Job(js.jobId, js.time, site = site)); ()
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId)
        if (j != null) j.end = je.time
      }
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execDesc.put(s.executionId, s.description); ()
        case _ => ()
      }
    })
    def materialize(name: String): Unit = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.mode("overwrite").format("noop").save()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // drain the listener bus before each flip of `capture`: its events
    // arrive asynchronously, so a warm-up's late stage events would
    // otherwise land in the timed window and the timed run's own would
    // land after it closed (undercounted stages, tasks and shuffle bytes)
    def drain(): Unit =
      org.apache.spark.sql.graft.GraftShim.drainListenerBus(spark.sparkContext)
    names.foreach { name =>
      materialize(name); materialize(name) // warm-ups (untimed, uncaptured)
      drain()
      jobs.clear(); resetPhys(); capture = true
      val t0 = System.nanoTime()
      materialize(name)
      val wall = (System.nanoTime() - t0) / 1e9
      drain()
      capture = false
      import scala.jdk.CollectionConverters._
      val done = jobs.values.asScala.toSeq.filter(_.end > 0)
      println(f"===== $name wall=$wall%.2f s, ${done.size} jobs, " +
        f"sum=${done.map(j => (j.end - j.start) / 1e3).sum}%.2f s =====")
      println(f"  phys: shuffle_write=${shufW.get / 1024.0}%.1f KiB " +
        f"shuffle_read=${shufR.get / 1024.0}%.1f KiB " +
        f"input=${inB.get / 1024.0}%.1f KiB " +
        f"stages=${nStages.get} tasks=${nTasks.get}")
      done.groupBy(_.site).view
        .mapValues(js => (js.map(j => (j.end - j.start) / 1e3).sum, js.size))
        .toSeq.sortBy(-_._2._1).take(25).foreach { case (site, (s, n)) =>
          println(f"  $s%7.3f s  ($n%2d jobs)  $site")
        }
      // driver-side gaps BETWEEN jobs — metadata reads, planning, FS ops
      val chron = done.sortBy(_.start)
      val gaps = chron.sliding(2).collect {
        case Seq(a, b) if b.start - a.end > 50 =>
          (a.id, b.id, b.start - a.end, b.site)
      }.toSeq
      println(f"  -- gaps > 50 ms (driver-side between jobs), total " +
        f"${gaps.map(_._3).sum / 1e3}%.2f s --")
      gaps.sortBy(-_._3).take(20).foreach { case (a, b, ms, nxt) =>
        println(f"  gap $a%4d->$b%-4d ${ms / 1e3}%7.3f s  before: $nxt")
      }
    }
    spark.stop()
  }
}
