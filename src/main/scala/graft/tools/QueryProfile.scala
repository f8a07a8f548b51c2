package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Measurement tool (optimization guide §1/§7): run named declared
  * queries through the bench's noop sink while a SparkListener counts
  * jobs / stages / tasks and sums task time. The gap between wall
  * time and sum(task time)/cores is scheduling + driver-side work —
  * the number that tells whether a slow query is compute-bound or
  * job-count-bound (the state-building view queries run dozens of
  * tiny jobs; this quantifies that overhead before touching code).
  *
  * Usage: runMain graft.tools.QueryProfile <query>[,<query>...] [reps]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (defaults match Bench).
  */
object QueryProfile {
  private class Acc extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    @volatile var gcTimeMs = 0L
    /** GRAFT_PROFILE_JOBS=1: per-job (start-offset, callsite) log so a
      * many-tiny-jobs query's inventory is attributable to code. */
    val jobLog = new scala.collection.mutable.ArrayBuffer[(Long, String)]
    private val verbose = sys.env.get("GRAFT_PROFILE_JOBS").contains("1")
    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized {
        jobs += 1
        if (verbose) {
          val p = Option(j.properties)
          val site = p.flatMap(x =>
              Option(x.getProperty("spark.job.description")))
            .orElse(p.flatMap(x => Option(x.getProperty("callSite.short"))))
            .getOrElse("?")
          jobLog += ((j.time, site))
        }
      }
    /** GRAFT_PROFILE_JOBS=1: per-stage (name, wall ms, task-time ms)
      * so the heavy stage of a compute-bound query is attributable. */
    val stageLog =
      new scala.collection.mutable.ArrayBuffer[(String, Long, Long)]
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        if (verbose) {
          val si = s.stageInfo
          val wall = (for {a <- si.completionTime; b <- si.submissionTime}
            yield a - b).getOrElse(-1L)
          val tt = Option(si.taskMetrics)
            .map(_.executorRunTime).getOrElse(-1L)
          stageLog += ((si.name.takeWhile(_ != '\n').take(70), wall, tt))
        }
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      if (t.taskInfo != null) taskTimeMs += t.taskInfo.duration
      if (t.taskMetrics != null) gcTimeMs += t.taskMetrics.jvmGCTime
    }
    def snap(): (Int, Int, Int, Long, Long) =
      synchronized { (jobs, stages, tasks, taskTimeMs, gcTimeMs) }
    /** Snapshot-and-clear the job log under the listener's lock (the
      * async bus may still be appending). */
    def drainLog(): Seq[(Long, String)] = synchronized {
      val out = jobLog.toList
      jobLog.clear()
      out
    }
  }

  /** The listener buses are async (and private): poll `snap` every
    * 100 ms until two reads agree (at most 2 s) instead of hoping one
    * fixed sleep covers the tail. Returns the settled value. */
  private[graft] def awaitStable[T](snap: => T): T = {
    var prev = snap
    var polls = 0
    var settled = false
    while (!settled && polls < 20) {
      Thread.sleep(100)
      val cur = snap
      settled = cur == prev
      prev = cur
      polls += 1
    }
    prev
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProfile <q1,q2,...> [reps]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    // one warmup job so classloading/codegen doesn't pollute run 1 —
    // a fixed trivial job, NOT an arbitrary Map head (which is
    // nondeterministic across runs and may be a heavyweight
    // state-building query with on-disk side effects)
    spark.range(1000000L).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    println(f"${"query"}%-34s run  wall_s  jobs stages tasks task_s  gc_ms")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      (1 to reps).foreach { r =>
        val before = acc.snap()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val after = awaitStable(acc.snap())
        println(f"$name%-34s $r%3d  $wall%6.2f  ${after._1 - before._1}%4d " +
          f"${after._2 - before._2}%5d ${after._3 - before._3}%5d " +
          f"${(after._4 - before._4) / 1e3}%6.2f ${after._5 - before._5}%6d")
        val log = acc.drainLog()
        val slog = acc.synchronized {
          val out = acc.stageLog.toList; acc.stageLog.clear(); out
        }
        if (r == reps && log.nonEmpty) {
          val t0j = log.head._1
          log.foreach { case (t, site) =>
            println(f"  job +${(t - t0j) / 1e3}%7.2fs  $site")
          }
        }
        if (r == reps && slog.nonEmpty)
          slog.sortBy(-_._3).take(12).foreach { case (n, w, tt) =>
            println(f"  stage wall ${w / 1e3}%6.2fs task ${tt / 1e3}%7.2fs  $n")
          }
      }
    }
    spark.stop()
  }
}
