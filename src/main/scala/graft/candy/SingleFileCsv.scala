package graft.candy

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Single-file CSV sink (reference save_to_csv,
  * data_processor.py:572-600): write via a temp dir with coalesce(1),
  * then move the lone part file to the requested name. coalesce(1) is
  * correct here — these are small, human-facing exports; everything
  * upstream runs at full parallelism and only the final write funnels
  * to one task.
  *
  * The sink does not sort: a caller that needs a row order sorts inside
  * the one partition (`coalesce(1).sortWithinPartitions`, as
  * CandyPipeline's exports do), which the coalesce(1) here keeps. Each
  * write has its own temp dir, `_tmp_<filename>`, removed whether or not
  * the write succeeds, so several writes may run concurrently into one
  * output dir.
  */
object SingleFileCsv {

  def write(df: DataFrame, outputDir: String, filename: String): Unit = {
    Files.createDirectories(Paths.get(outputDir))
    val tmp = Paths.get(outputDir, s"_tmp_$filename")
    try {
      df.coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(p => p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".csv"))
        .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
      Files.move(part, Paths.get(outputDir, filename), StandardCopyOption.REPLACE_EXISTING)
    } finally deleteRecursively(tmp)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
