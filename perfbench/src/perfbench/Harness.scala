package perfbench

import perfbench.Stats.Samples

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark process: builds the session, prints `READY` once it is set
  * up (the moment `setup_s` ends), drives one workload for the time
  * budget, and prints one `RESULT {json}` line with the samples, the
  * per-layer values and the check counts. `perfbench/run.py` turns that
  * into the benchmark's result line.
  *
  *   Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *           --work <dir> [--data <dir>]
  *
  * `--workload inputs` only writes the generated inputs (see
  * [[Inputs]]) and starts no session.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    if (workload == "inputs") { Inputs.dump(work, seed); return }

    val spark = session(cpus, work, trace)
    // the fixed warm-up action that closes set-up
    spark.range(0L, 100000L, 1L, cpus).selectExpr("sum(id)").collect()
    println("READY")
    System.out.flush()

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val b = new Bench(spark, tracer, cpus)
    val load: Workload = workload match {
      case "writer" => new WriterWorkload(b, work.resolve("writer"), seed)
      case "fold_views" => new FoldWorkload(b, work.resolve("fold"), seed,
        baseKeys = 10000, events = 2000)
      case "query_mix" => new QueryWorkload(b, work.resolve("query"), opt("data"))
      case other => sys.error(s"unknown workload $other")
    }
    load.prepare()
    load.warmUp()
    b.reset()
    val budgetNs = (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    load.runUntil(t0 + budgetNs)
    val measured = (System.nanoTime() - t0) / 1e9
    val extra = load.finish()
    tracer.foreach(_.write(work.resolve("spans.jsonl").toString))

    val e2e = load.endToEnd(b.samples).map { case (k, v) =>
      s"${Json.str(k)}:${Json.num(v)}" }
    val samples = b.samples.toSeq.map { case (k, v) =>
      s"${Json.str(k)}:${v.map(Json.num).mkString("[", ",", "]")}" }
    val layers = (b.layerMetrics ++ extra).map { case (k, v) =>
      s"${Json.str(k)}:${Json.num(v)}" }
    println("RESULT " +
      s"""{"workload":${Json.str(workload)},"seed":$seed,""" +
      s""""measured_s":${Json.num(measured)},"attempted":${b.attempted},""" +
      s""""failed":${b.failed},"peak_rss_mb":${Json.num(peakRssMb())},""" +
      s""""e2e":{${e2e.mkString(",")}},""" +
      s""""samples":{${samples.mkString(",")}},""" +
      s""""layers":{${layers.mkString(",")}}}""")
    System.out.flush()
    spark.stop()
  }

  def session(cpus: Int, work: java.nio.file.Path, trace: Boolean): SparkSession = {
    val tmp = work.resolve("spark-tmp")
    Files.createDirectories(tmp)
    val b = graft.Sessions.builder(cpus.toString)
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace) {
      // the counting filesystem enters Hadoop's filesystem cache before
      // anything else creates a `file:` filesystem, so every caller in
      // the process shares it; the session conf covers callers that
      // create their own
      val conf = new org.apache.hadoop.conf.Configuration()
      conf.set("fs.file.impl", classOf[CountingFs].getName)
      org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("file:///"), conf)
      b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}

/** One workload: inputs made in `prepare`, an untimed `warmUp`, then
  * closed-loop units of work (a load cycle, a fold round, a query
  * pass) until a deadline, but never fewer than `minUnits`, so every
  * run measures the same work; `finish` adds the workload's own
  * per-layer values. */
trait Workload {
  def prepare(): Unit
  def warmUp(): Unit
  def unit(): Unit
  def minUnits: Int
  def finish(): Seq[(String, Double)] = Nil

  def runUntil(deadline: Long): Unit = {
    var n = 0
    while (n < minUnits || System.nanoTime() < deadline) { unit(); n += 1 }
  }

  /** `op_s` and `bulk_s` from the samples. */
  def endToEnd(samples: Samples): Map[String, Double]

  /** Geometric mean of the medians of the sample kinds under `prefix`. */
  protected def geomeanOf(samples: Samples, prefix: String): Double = {
    val ms = samples.collect { case (k, v) if k.startsWith(prefix) => Stats.median(v) }
    if (ms.isEmpty) Double.NaN else Stats.geomean(ms)
  }
}
