package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.unsafe.Platform
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Seeded rows of the writer table. A row is a pure function of
  * (seed, id, version), so the model only tracks each key's version.
  * Columns: id bigint PK, qty int, name varchar(64),
  * price decimal(12,2), cat int, day date, ts timestamp, and a nullable
  * note varchar(255) with ~10 % NULL literals, quoted commas and
  * doubled quotes. */
final class WriterRows(seed: Long) {
  private val words = Array("alpha", "beta", "gamma", "delta", "sigma",
    "omega", "red", "blue", "green", "north", "south", "east", "west",
    "bolt", "gear", "rod", "plate", "ring", "anvil", "widget")
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Field values; `null` is SQL NULL. */
  def fields(id: Long, version: Int): Array[String] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^
      (id * 0xBF58476D1CE4E5B9L + version * 0x94D049BB133111EBL))
    def word() = words(r.nextInt(words.length))
    val qty = r.nextInt(-1000, 100000)
    val name = (0 until 1 + r.nextInt(4)).map(_ => word()).mkString(" ") +
      (if (r.nextInt(10) == 0) " 5\" pipe" else "")
    val cents = r.nextLong(0L, 100000000L)
    val price = s"${cents / 100}.${f"${cents % 100}%02d"}"
    val cat = r.nextInt(50)
    val day = LocalDate.ofEpochDay(18000L + r.nextInt(3000)).toString
    val ts = LocalDateTime.ofEpochSecond(1600000000L + r.nextInt(100000000),
      0, ZoneOffset.UTC).format(tsFmt)
    val note =
      if (r.nextInt(10) == 0) null
      else (0 until 2 + r.nextInt(12)).map { i =>
        val w = word()
        if (i % 4 == 3) s"$w," else if (r.nextInt(20) == 0) s"\"$w\"" else w
      }.mkString(" ") + s" v$version"
    Array(id.toString, qty.toString, name, price, cat.toString, day, ts, note)
  }

  /** The keys of one delta: `half` distinct existing keys drawn from
    * 1..maxId, and `half` new keys after maxId. */
  def deltaKeys(rnd: SplittableRandom, maxId: Long, half: Int): (Seq[Long], Seq[Long]) = {
    val upd = scala.collection.mutable.LinkedHashSet[Long]()
    while (upd.size < half) upd += 1L + rnd.nextLong(maxId)
    (upd.toSeq, (maxId + 1 to maxId + half).toSeq)
  }

  def csvLine(f: Array[String]): String =
    f.map(v => if (v == null) "NULL" else "\"" + v.replace("\"", "\"\"") + "\"")
      .mkString(",")

  /** The row as [[WriterRows.canonSql]] renders it from the table. */
  def canon(f: Array[String]): String =
    f.map(v => if (v == null) "\u0001" else v).mkString("|")
}

object WriterRows {
  def deltaRandom(seed: Long) = new SplittableRandom(seed ^ 0x5DEECE66DL)

  val columns = Seq("id", "qty", "name", "price", "cat", "day", "ts", "note")

  val itemsJson: String = Seq(
    """{"name":"id","dbName":"id","type":"bigint"}""",
    """{"name":"qty","dbName":"qty","type":"int"}""",
    """{"name":"name","dbName":"name","type":"varchar","size":"64"}""",
    """{"name":"price","dbName":"price","type":"decimal","size":"12,2"}""",
    """{"name":"cat","dbName":"cat","type":"int"}""",
    """{"name":"day","dbName":"day","type":"date"}""",
    """{"name":"ts","dbName":"ts","type":"timestamp"}""",
    """{"name":"note","dbName":"note","type":"varchar","size":"255","nullable":true}"""
  ).mkString("[", ",", "]")

  /** One line per row, in the model's canonical form. */
  val canonSql: String =
    "concat_ws('|', cast(id as string), cast(qty as string), name, " +
      "cast(price as string), cast(cat as string), cast(day as string), " +
      "date_format(ts, 'yyyy-MM-dd HH:mm:ss'), coalesce(note, '\u0001'))"

  /** Spark's `xxhash64` of a string, computed without Spark SQL. */
  def hash(s: String): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** (row count, order-independent hash) of a table as stored. */
  def digest(df: DataFrame): (Long, BigInt) = digestExpr(df, canonSql)

  /** (row count, order-independent hash) of `canon` over the rows. */
  def digestExpr(df: DataFrame, canon: String): (Long, BigInt) = {
    val r = df.selectExpr(s"xxhash64($canon) AS h")
      .selectExpr("count(*)", "sum(cast(h AS decimal(38,0)))").head()
    val sum = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger))
      .getOrElse(BigInt(0))
    (r.getLong(0), sum)
  }
}

/** One writer lane: `run` loads through `Main.execute` into a Parquet
  * directory sink (single CSV file input) or an embedded in-memory
  * Derby JDBC sink (sliced input) — full loads of `baseRows` and
  * incremental upserts of fixed-size deltas (half updates of existing
  * keys, half new keys). Each load is checked against the benchmark's
  * own stage-wins model by row count and order-independent hash,
  * outside the timed span. */
final class WriterLane(b: Bench, work: Path, seed: Long, jdbc: Boolean,
                       baseRows: Int, deltaRows: Int) {
  /** Names this lane's samples and per-layer metrics. */
  val label = if (jdbc) "jdbc" else "parquet"
  private val spark = b.spark
  private val gen = new WriterRows(seed)
  private val dataDir = work.resolve("job")
  private val tables = dataDir.resolve("in/tables")
  private val slices = 8

  private val inner: graft.app.TableSink =
    if (jdbc) new graft.app.JdbcSink(spark,
      s"jdbc:derby:memory:bench${work.getFileName};create=true",
      Map("partitionColumn" -> "id", "numPartitions" -> "4"),
      catalogSql = "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T'",
      renameSql = (from, to) => s"RENAME TABLE $from TO $to",
      splitProbeSql = (table, q, off) =>
        s"SELECT $q FROM $table WHERE $q IS NOT NULL " +
          s"ORDER BY $q OFFSET $off ROWS FETCH NEXT 1 ROWS ONLY")
    else new graft.app.ParquetSink(spark, work.resolve("out").toString)

  private val traced = b.tracer.map(t => new TracingSink(inner, t, spark))

  // model: version of every key
  private var versions = Array.emptyIntArray
  private var maxId = 0L
  private var opIndex = 0
  private val rnd = WriterRows.deltaRandom(seed)

  private def writeInput(tableId: String, rows: Iterator[String],
                         header: Boolean): Unit = {
    val target = tables.resolve(s"$tableId.csv")
    if (jdbc) {
      // sliced input: a directory of headerless slices
      Files.createDirectories(target)
      val ws = (0 until slices).map(i => Files.newBufferedWriter(
        target.resolve(f"part-$i%02d.csv"), UTF_8))
      var i = 0
      rows.foreach { l => val w = ws(i % slices); w.write(l); w.write('\n'); i += 1 }
      ws.foreach(_.close())
    } else {
      val w = Files.newBufferedWriter(target, UTF_8)
      if (header) {
        w.write(WriterRows.columns.map(c => "\"" + c + "\"").mkString(","))
        w.write('\n')
      }
      rows.foreach { l => w.write(l); w.write('\n') }
      w.close()
    }
  }

  private def writeConfig(tableId: String, incremental: Boolean): Unit = {
    val incr = if (incremental) ""","incremental":true""" else ""
    Files.writeString(dataDir.resolve("config.json"),
      s"""{"action":"run","parameters":{"tables":[{"tableId":"$tableId",""" +
        s""""dbName":"target","primaryKey":["id"]$incr,""" +
        s""""items":${WriterRows.itemsJson}}]}}""")
  }

  // the model's digest of the expected table, kept up to date per load
  private var baseDigest = (0L, BigInt(0))
  private var modelDigest = (0L, BigInt(0))

  private def rowHash(id: Long, version: Int): Long =
    WriterRows.hash(gen.canon(gen.fields(id, version)))

  def prepare(): Unit = {
    Files.createDirectories(tables)
    writeInput("base", (1L to baseRows).iterator.map(id =>
      gen.csvLine(gen.fields(id, 0))), header = true)
    baseDigest = (baseRows.toLong,
      (1L to baseRows).foldLeft(BigInt(0))((s, id) => s + rowHash(id, 0)))
  }

  private def checkTarget(what: String, code: Int, out: Option[String]): Unit = {
    val ok = code == 0 && {
      val got = WriterRows.digest(inner.read("target"))
      val want = modelDigest
      if (got != want) System.err.println(s"[perfbench] $what: got $got want $want")
      got == want
    }
    b.check(ok, s"$what exit=$code ${out.getOrElse("")}")
  }

  private def execute(kind: String, name: String): Unit = {
    val sink = traced.getOrElse(inner)
    val readsBefore = traced.map(_.rowsRead.value.longValue).getOrElse(0L)
    val ((code, out), s) = b.timed(kind, s"${name}_$label") {
      graft.app.Main.execute(spark, sink, dataDir.toString)
    }
    b.sample(s"$kind.$label", s)
    traced.foreach { t =>
      if (kind == "op") recordSinkLayers(s, t.rowsRead.value.longValue - readsBefore)
    }
    checkTarget(name, code, out)
  }

  /** `sink.*` spans and `engine.self_ms` of the last traced upsert. */
  private def recordSinkLayers(wallS: Double, rowsRead: Long): Unit = {
    val t = b.tracer.get
    def ms(name: String) = t.spansOf(b.lastOp, name).map(x => x._2 - x._1).sum.toDouble
    val exists = ms("sink.exists")
    val read = ms("sink.read")
    val overwrite = ms("sink.overwrite")
    b.layerSample(s"sink.$label.exists_ms", exists)
    b.layerSample(s"sink.$label.read_ms", read)
    b.layerSample(s"sink.$label.overwrite_ms", overwrite)
    // the part of overwrite after its last Spark job: the swap
    val lastJobEnd = b.lastCounters.jobSpans.map(_._2).maxOption.getOrElse(0L)
    val swap = t.spansOf(b.lastOp, "sink.overwrite").map { case (_, e) =>
      if (lastJobEnd > 0) math.max(0L, e - lastJobEnd) else 0L }.sum.toDouble
    b.layerSample(s"sink.$label.swap_ms", swap)
    b.layerSample(s"sink.$label.target_rows_read", rowsRead)
    b.layerSample(s"engine.$label.self_ms",
      math.max(0.0, wallS * 1000 - exists - read - overwrite))
  }

  /** The standalone layer probes of a traced run, on the input the
    * load just read: config parse, then for a full load the CSV ingest
    * + strict cast, for an upsert the merge of the same delta into the
    * target it produced, each to a `noop` sink. They run after the
    * load and its check, so they do not warm the load they describe. */
  private def layerProbes(tableId: String, incremental: Boolean): Unit = {
    import graft.sources.CsvIngest
    val cfgPath = dataDir.resolve("config.json").toString
    val (cfg, parseMs, _) = b.probe("model.parse")(
      graft.model.ConfigParser.parseFile(cfgPath))
    b.layerSample("model.parse_ms", parseMs)
    val table = cfg.tables.head
    val csv = tables.resolve(s"$tableId.csv").toString
    def staged() = if (jdbc) {
      val files = Files.list(tables.resolve(s"$tableId.csv")).toArray
        .map(_.toString).sorted.toSeq
      CsvIngest.castAndProjectStrict(CsvIngest.readSlices(spark, files, table),
        table, header = false)
    } else CsvIngest.castAndProjectStrict(CsvIngest.read(spark, csv, table),
      table, header = true)
    if (incremental) {
      val (_, mergeMs, mc) = b.probe("operators.merge")(
        graft.operators.Load.upsert(inner.read("target"), staged(), Seq("id"))
          .write.format("noop").mode("overwrite").save())
      b.layerSample(s"operators.$label.merge_ms", mergeMs)
      b.layerSample(s"operators.$label.merge_shuffle_bytes", mc.shuffleWrite)
    } else {
      val (_, ingestMs, ic) = b.probe("sources.ingest")(
        staged().write.format("noop").mode("overwrite").save())
      b.layerSample(s"sources.$label.ingest_ms", ingestMs)
      b.layerSample(s"sources.$label.ingest_tasks", ic.tasks)
      b.layerSample(s"sources.$label.ingest_jobs", ic.jobs)
    }
  }

  def fullLoad(): Unit = {
    writeConfig("base", incremental = false)
    versions = Array.fill(baseRows + 1)(0)
    maxId = baseRows
    modelDigest = baseDigest
    execute("bulk", "load_full")
    if (b.tracer.isDefined) layerProbes("base", incremental = false)
  }

  def incrementalLoad(): Unit = {
    opIndex += 1
    val half = deltaRows / 2
    val (upd, ins) = gen.deltaKeys(rnd, maxId, half)
    val rows = (upd ++ ins).map { id => gen.csvLine(gen.fields(id, opIndex)) }
    val dir = tables.resolve("delta.csv")
    if (Files.exists(dir)) deleteTree(dir)
    writeInput("delta", rows.iterator, header = true)
    writeConfig("delta", incremental = true)
    // stage wins: updated keys take the delta's version, new keys appear
    var (n, sum) = modelDigest
    upd.foreach(id => sum = sum + rowHash(id, opIndex) - rowHash(id, versions(id.toInt)))
    ins.foreach { id => n += 1; sum += rowHash(id, opIndex) }
    modelDigest = (n, sum)
    val grown = java.util.Arrays.copyOf(versions, (maxId + half + 1).toInt)
    (upd ++ ins).foreach(id => grown(id.toInt) = opIndex)
    versions = grown
    maxId += half
    execute("op", "load_incr")
    if (b.tracer.isDefined) layerProbes("delta", incremental = true)
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).toArray.foreach(x => deleteTree(x.asInstanceOf[Path]))
    Files.delete(p)
  }
}

/** The writer workload: a Parquet lane (single CSV file into
  * `ParquetSink`) and a JDBC lane (8 headerless slices into an embedded
  * in-memory Derby through `JdbcSink`), driven in whole cycles of a full
  * (replace) load and an incremental upsert on each lane, until the
  * time budget is spent. One untimed cycle warms the JIT and the code
  * caches first. `op_s` and `bulk_s` are geometric means over the two
  * lanes, so a change to one sink's path moves them; the per-lane
  * medians are in the samples (`op.parquet`, `op.jdbc`, ...). */
final class WriterWorkload(b: Bench, work: Path, seed: Long) extends Workload {
  private val lanes = Seq(
    new WriterLane(b, work.resolve("parquet"), seed, jdbc = false,
      baseRows = 100000, deltaRows = 10000),
    new WriterLane(b, work.resolve("jdbc"), seed, jdbc = true,
      baseRows = 30000, deltaRows = 1000))

  def prepare(): Unit = lanes.foreach(_.prepare())

  /** One cycle: a full load, then an upsert, on each lane. */
  def unit(): Unit = {
    lanes.foreach(_.fullLoad())
    lanes.foreach(_.incrementalLoad())
  }
  val minUnits = 3

  def warmUp(): Unit = unit()

  def endToEnd(samples: Stats.Samples): Map[String, Double] =
    Map("op_s" -> geomeanOf(samples, "op."), "bulk_s" -> geomeanOf(samples, "bulk."))
}
