package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Writes the generated inputs of the writer and view lanes as text,
  * without Spark, so a test can compare two generations byte for byte:
  * the first writer rows, two deltas, and three view batches. */
object Inputs {
  def dump(dir: Path, seed: Long): Unit = {
    Files.createDirectories(dir)
    val gen = new WriterRows(seed)
    val rnd = WriterRows.deltaRandom(seed)
    val lines = Seq.newBuilder[String]
    var maxId = 1000L
    (1L to maxId).foreach(id => lines += gen.csvLine(gen.fields(id, 0)))
    (1 to 2).foreach { op =>
      val (upd, ins) = gen.deltaKeys(rnd, maxId, 50)
      (upd ++ ins).foreach(id => lines += gen.csvLine(gen.fields(id, op)))
      maxId += 50
    }
    Files.write(dir.resolve("writer.csv"), lines.result().mkString("\n").getBytes(UTF_8))

    val model = new FoldModel(seed, baseKeys = 500, events = 100)
    val fold = (0 to 2).flatMap { b =>
      val (cdc, roll, a, bb) = model.batch(b)
      Seq(cdc, roll, a, bb).zip(Seq("cdc", "rollup", "joinA", "joinB"))
        .flatMap { case (rows, feed) => rows.map(r => s"$b|$feed|${r.mkString("|")}") }
    }
    Files.write(dir.resolve("views.txt"), fold.mkString("\n").getBytes(UTF_8))
  }
}
