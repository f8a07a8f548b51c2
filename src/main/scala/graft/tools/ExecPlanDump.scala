package graft.tools

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Measurement tool (optimization guide §7.2): dump the formatted
  * executed plan of EVERY action a named declared query runs to
  * numbered files, so plan shapes (Exchange count, join strategy,
  * PushedFilters/ReadSchema) can be diffed before/after an
  * optimization without a UI. Iterative operators truncate lineage
  * with localCheckpoint and state-building operators run fold jobs
  * eagerly, so the final frame alone shows only the read-back tail;
  * a QueryExecutionListener catches the checkpoint materializations,
  * fold probes and layer writes too. The highest-numbered file of a
  * query is its final frame's plan.
  *
  * Usage: runMain graft.tools.ExecPlanDump <outDir> <query>[,<query>...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (defaults match Bench).
  */
object ExecPlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ExecPlanDump <outDir> <q1,q2,...>")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // GRAFT_NO_BROADCAST=1: disable auto-broadcast so plans show the
    // shape the SAME code takes once sizes exceed the broadcast
    // threshold — the at-scale (sort-merge / shuffled-hash) regime a
    // small test SF otherwise hides. Results are unchanged; only the
    // join strategy moves.
    if (sys.env.get("GRAFT_NO_BROADCAST").contains("1"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val current = new java.util.concurrent.atomic.AtomicReference[String]("")
    val seq = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        val name = current.get()
        if (name.nonEmpty) {
          val n = seq.incrementAndGet()
          val txt = qe.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(
            outDir.resolve(f"${name}_exec$n%03d_$funcName.txt"),
            txt.getBytes("UTF-8"))
          ()
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    args(1).split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      seq.set(0)
      current.set(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      // the listener bus is async — let the tail drain before renaming
      QueryProfile.awaitStable(seq.get())
      current.set("")
      println(s"[execplandump] $name -> ${seq.get()} executed plans")
    }
    spark.stop()
  }
}
