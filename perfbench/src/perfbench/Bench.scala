package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

object Stats {
  type Samples = scala.collection.Map[String, scala.collection.Seq[Double]]

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def geomean(xs: Iterable[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
}

/** The measuring core every workload drives: times operations, counts
  * checks and failures, and in traced runs reads each operation's
  * counters back from the listener, the counting filesystem and the
  * spans. Samples are kept by name (`op.parquet`, `fold.cdc`,
  * `query.<name>`, ...); each workload folds them into `op_s` and
  * `bulk_s`. The `kind` of a timed operation (`op` or `bulk`) names its
  * per-layer metrics. */
final class Bench(val spark: SparkSession, val tracer: Option[Tracer],
                  val cpus: Int) {
  private val sc = spark.sparkContext
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val layer = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val fixed = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  private var seq = 0

  def sample(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += v

  /** A per-layer sample; the reported value is the median. */
  def layerSample(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  /** A per-layer value recorded once (the last write wins). */
  def layerValue(name: String, v: Double): Unit = fixed(name) = v

  /** Drop the samples of a warm-up phase; its checks still count. */
  def reset(): Unit = { samples.clear(); layer.clear(); fixed.clear() }

  def layerMetrics: Seq[(String, Double)] =
    layer.toSeq.map { case (k, v) => k -> Stats.median(v) } ++ fixed.toSeq

  /** Count one check; `ok` is its independent verdict on an output.
    * A check that throws counts as failed. */
  def check(ok: => Boolean, what: => String): Unit = {
    attempted += 1
    val passed = try ok catch {
      case e: Exception =>
        System.err.println(s"[perfbench] check threw: $e")
        false
    }
    if (!passed) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what")
    }
  }

  /** Run `body` as one operation under its own job group. Returns the
    * result and the wall seconds; in a traced run, the operation's
    * counters are recorded under `<module>.<kind>.<metric>`. */
  def timed[T](kind: String, name: String)(body: => T): (T, Double) = {
    seq += 1
    val op = s"$name#$seq"
    sc.setJobGroup(op, name, false)
    tracer.foreach(_.setOp(op))
    val fs0 = CountingFs.snapshot()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try tracer.fold(body)(_.span(name)(body)) finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    tracer.foreach { tr =>
      tr.drain()
      val c = tr.listener.take(op)
      val fs1 = CountingFs.snapshot()
      lastCounters = c
      lastFsOps = CountingFs.names.map(n => fs1(n) - fs0(n)).sum
      lastOp = op
      layerSample(s"spark.$kind.jobs", c.jobs)
      layerSample(s"spark.$kind.stages", c.stages)
      layerSample(s"spark.$kind.tasks", c.tasks)
      layerSample(s"spark.$kind.task_ms", c.taskMs)
      layerSample(s"spark.$kind.cpu_util",
        c.cpuNs / 1e6 / math.max(1.0, (endMs - startMs).toDouble * cpus))
      layerSample(s"spark.$kind.driver_ms", driverMs(c, startMs, endMs))
      layerSample(s"spark.$kind.shuffle_read_bytes", c.shuffleRead)
      layerSample(s"spark.$kind.shuffle_write_bytes", c.shuffleWrite)
      layerSample(s"spark.$kind.spill_bytes", c.spill)
      layerSample(s"spark.$kind.gc_ms", c.gcMs)
      CountingFs.names.foreach { n =>
        layerSample(s"fs.$kind.${n}_ops", fs1(n) - fs0(n))
      }
    }
    (r, wall)
  }

  /** Counters of the last operation of a traced run (for
    * workload-specific metrics such as the join-fold task growth). */
  var lastCounters = new OpCounters
  var lastFsOps = 0L
  var lastOp = ""

  /** Wall time of [start, end] not covered by any job of the op. */
  def driverMs(c: OpCounters, startMs: Long, endMs: Long): Double = {
    val iv = c.jobSpans.map { case (s, e) =>
      (math.max(s, startMs), math.min(e, endMs)) }
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE >= curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE >= curS) covered += curE - curS
    math.max(0.0, (endMs - startMs - covered).toDouble)
  }

  /** Run `body` outside any timed span, under a job group of its own,
    * and return its counters (the standalone layer probes). */
  def probe[T](name: String)(body: => T): (T, Double, OpCounters) = {
    seq += 1
    val op = s"$name#$seq"
    sc.setJobGroup(op, name, false)
    val t0 = System.nanoTime()
    val r = try body finally sc.clearJobGroup()
    val ms = (System.nanoTime() - t0) / 1e6
    val c = tracer.map { tr => tr.drain(); tr.listener.take(op) }
      .getOrElse(new OpCounters)
    (r, ms, c)
  }
}
