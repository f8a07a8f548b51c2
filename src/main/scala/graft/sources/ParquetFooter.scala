package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Schema-less parquet reads without Spark's schema-inference job.
  *
  * Spark infers a parquet schema (without `mergeSchema`) by running a
  * job that reads ONE footer: the lexicographically first data file
  * under the read paths, or a `_common_metadata`/`_metadata` summary
  * when one is present. This helper reads that same footer on the
  * driver and hands Spark the schema Spark stored there, so a read
  * costs listings, one footer and the jobs that move rows — while it
  * lists at most 32 dirs at a level (Spark's
  * `spark.sql.sources.parallelPartitionDiscovery.threshold`; past it
  * Spark lists them in a job). It falls
  * back to the inference (and its errors) when a summary file turns up
  * in a listing, when there is no data file, or when the footer does
  * not carry Spark's schema key. Partition columns are not in a footer:
  * Spark still discovers them from the paths. */
private[graft] object ParquetFooter {

  private val sparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Children of `p`, empty when it does not exist (one list call). */
  def list(fs: FileSystem, p: Path): Seq[FileStatus] =
    try fs.listStatus(p).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Names Spark's file index skips (`_SUCCESS`, `.crc`, staging). */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def summary(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** The file Spark's inference reads under `roots`: the first data
    * file in full-path order. `ls` lists a dir; callers pass the
    * listings they already hold. None when a listed dir holds a
    * summary file or no data file exists. */
  private def firstDataFile(roots: Seq[Path],
                            ls: Path => Seq[FileStatus]): Option[FileStatus] = {
    // full-path order: a dir's files sort as "<name>/..."
    def key(st: FileStatus) =
      if (st.isDirectory) st.getPath.getName + "/" else st.getPath.getName
    // Some(None): a summary file decides; Some(Some(f)): the file
    def walk(dir: Path): Option[Option[FileStatus]] = {
      val children = ls(dir)
      if (children.exists(st => summary(st.getPath.getName))) Some(None)
      else children.filterNot(st => hidden(st.getPath.getName)).sortBy(key)
        .iterator.map(st => if (st.isDirectory) walk(st.getPath) else Some(Some(st)))
        .collectFirst { case Some(found) => found }
    }
    roots.sortBy(_.toString + "/").iterator.map(walk)
      .collectFirst { case Some(found) => found }.flatten
  }

  /** The schema Spark stored in `file`'s footer, if it carries one. */
  private def stored(spark: SparkSession, file: FileStatus): Option[StructType] =
    scala.util.Try {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file,
          spark.sessionState.newHadoopConf()))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(sparkSchemaKey))
      finally reader.close()
    }.toOption.flatten.flatMap(json => scala.util.Try(DataType.fromJson(json))
      .toOption.collect { case s: StructType => s })

  /** `paths` read as parquet with the schema in one footer; Spark
    * infers it when it must. `listed` holds listings the caller
    * already made; any other dir is listed through `fs`. Partition
    * columns are discovered from the paths as usual. */
  def read(spark: SparkSession, fs: FileSystem, paths: Seq[Path],
           listed: Map[Path, Seq[FileStatus]] = Map.empty): DataFrame =
    footerSchema(spark, fs, paths, listed).fold(spark.read)(spark.read.schema(_))
      .parquet(paths.map(_.toString): _*)

  /** The data columns of `paths` from one footer, without building a
    * read (whose file index lists the paths again); None when Spark
    * must infer them. */
  def footerSchema(spark: SparkSession, fs: FileSystem, paths: Seq[Path],
                   listed: Map[Path, Seq[FileStatus]] = Map.empty): Option[StructType] =
    firstDataFile(paths, p => listed.getOrElse(p, list(fs, p))).flatMap(stored(spark, _))

  /** The `dirs` holding a data entry
    * ([[PartitionedStore.isDataEntry]]), each listed once, read as one
    * frame with the schema from those listings; None when none holds
    * data. */
  def readHoldingData(spark: SparkSession, fs: FileSystem,
                      dirs: Seq[Path]): Option[DataFrame] =
    dirs.map(d => d -> list(fs, d))
      .filter(_._2.exists(PartitionedStore.isDataEntry)) match {
      case Seq() => None
      case held  => Some(read(spark, fs, held.map(_._1), held.toMap))
    }
}
