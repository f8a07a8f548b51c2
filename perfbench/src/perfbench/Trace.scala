package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `file:` filesystem that counts the metadata and stream calls an
  * object store would bill (list, status, rename, delete, mkdirs,
  * create, open). Registered through `spark.hadoop.fs.file.impl` in
  * traced runs only; the counters are process-wide because local-mode
  * tasks run in the driver JVM. */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  override def listStatus(f: Path): Array[FileStatus] = {
    listOps.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    statusOps.incrementAndGet(); super.getFileStatus(f)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renameOps.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    deleteOps.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mkdirsOps.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    createOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    openOps.incrementAndGet(); super.open(f, bufferSize)
  }
}

object CountingFs {
  val listOps, statusOps, renameOps, deleteOps, mkdirsOps, createOps,
    openOps = new AtomicLong
  private val all = Seq("list" -> listOps, "status" -> statusOps,
    "rename" -> renameOps, "delete" -> deleteOps, "mkdirs" -> mkdirsOps,
    "create" -> createOps, "open" -> openOps)
  val names: Seq[String] = all.map(_._1)
  def snapshot(): Map[String, Long] = all.map { case (n, c) => n -> c.get }.toMap
}

/** Per-operation Spark counters, attributed by the job group the
  * harness sets before each call. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]() // (start, end) ms
}

final class Listener extends SparkListener {
  private val byOp = mutable.HashMap[String, OpCounters]()
  private val jobOp = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val stageOp = mutable.HashMap[Int, String]()

  private def ops(id: String) = byOp.getOrElseUpdate(id, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      jobOp(e.jobId) = g
      jobStart(e.jobId) = e.time
      ops(g).jobs += 1
      e.stageIds.foreach(s => stageOp(s) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (g <- jobOp.remove(e.jobId); s <- jobStart.remove(e.jobId))
      ops(g).jobSpans += ((s, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(g => ops(g).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { g =>
      val c = ops(g)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def take(op: String): OpCounters = synchronized {
    byOp.remove(op).getOrElse(new OpCounters)
  }
}

/** One traced span: name, start/end (ms since the epoch), the span that
  * caused it, and the operation it belongs to. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, op: String)

/** In-memory trace of one traced run: spans plus the Spark listener.
  * `None` in untraced runs, so the measured path carries no hooks. */
final class Tracer(spark: SparkSession) {
  val listener = new Listener
  spark.sparkContext.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var currentOp = ""

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, System.currentTimeMillis(), -1L, parent, currentOp)
    stack = id :: stack
    try body finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = System.currentTimeMillis())
    }
  }

  def setOp(op: String): Unit = currentOp = op

  /** Spans of `op` named `name`, as (start, end). */
  def spansOf(op: String, name: String): Seq[(Long, Long)] =
    spans.iterator.filter(s => s.op == op && s.name == name)
      .map(s => (s.start, s.end)).toSeq

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)

  def write(path: String): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start":${s.start},""" +
        s""""end":${s.end},"parent":${s.parent},"op":${Json.str(s.op)}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

/** `TableSink` decorator used in traced runs: a span around every sink
  * call, and a count of the target rows its `read` frames deliver. */
final class TracingSink(inner: graft.app.TableSink, tracer: Tracer,
                        spark: SparkSession) extends graft.app.TableSink {
  val rowsRead = spark.sparkContext.longAccumulator("bench.target_rows_read")
  private val counted = {
    val acc = rowsRead // the closure must not capture the sink
    org.apache.spark.sql.functions.udf { () => acc.add(1); true }
      .asNondeterministic()
  }

  def ping(): Unit = tracer.span("sink.ping")(inner.ping())
  def tableExists(name: String): Boolean =
    tracer.span("sink.exists")(inner.tableExists(name))
  def read(name: String): DataFrame =
    tracer.span("sink.read")(inner.read(name).where(counted()))
  def overwrite(df: DataFrame, name: String): Unit =
    tracer.span("sink.overwrite")(inner.overwrite(df, name))
  def listTables(): Seq[String] = tracer.span("sink.list")(inner.listTables())
}
