package graft.state

import org.apache.hadoop.fs.{FileSystem, Path}

/** The small control files next to a state (`_CONFIG`,
  * `_CONFIG_WITNESS`, `_LAST_BATCH`): one reader and one atomic
  * replace. */
private[graft] object SmallFiles {

  /** The file's UTF-8 text; None when it does not exist. */
  def read(fs: FileSystem, file: Path): Option[String] =
    if (!fs.exists(file)) None
    else {
      val in = fs.open(file)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }

  /** Replace `dir/name` with `text`: write `<name>_tmp_<hex8>`, then
    * rename it OVER the target — a local rename(2) replaces it in
    * place, so no crash leaves the file missing. Only a store whose
    * rename refuses an existing target falls back to delete-then-
    * rename, whose crash window is a missing file. Temp files of
    * earlier crashed replaces are reaped first (their only producer).
    * Throws an IOException reading `failure` when neither rename
    * lands. */
  def replace(fs: FileSystem, dir: Path, name: String, text: String,
              failure: => String): Unit = {
    fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.startsWith(s"${name}_tmp_"))
      .foreach(st => fs.delete(st.getPath, false))
    val tmp = new Path(dir,
      s"${name}_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    val dst = new Path(dir, name)
    if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) throw new java.io.IOException(failure)
    }
  }
}
