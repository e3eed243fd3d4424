package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent content hash of a DataFrame: row count plus the
  * sum of per-row xxhash64 over the columns in name order. */
object Hash {
  def of(df: DataFrame): String = {
    val cols = df.columns.sorted.toSeq.map(col)
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")), lit(0)))
      .head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

/** Local-file helpers for the run's work root. */
object Files {
  import java.nio.file.{Files => JFiles, Path, Paths}
  import scala.jdk.CollectionConverters._

  private def walk(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!JFiles.exists(p)) Nil
    else {
      val s = JFiles.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }
  }

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    JFiles.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
  }

  def bytes(root: String): Long = walk(root).filter(JFiles.isRegularFile(_)).map(JFiles.size).sum

  /** Data files under `root`, outside Spark's scratch directory, last
    * modified at or after `sinceMs`. */
  def dataFilesSince(root: String, sinceMs: Long): Int = {
    val scratch = Paths.get(root, "spark-local")
    walk(root).count(p => !p.startsWith(scratch) && isData(p) &&
      JFiles.getLastModifiedTime(p).toMillis >= sinceMs)
  }

  /** Data files per `d=` partition directory of a partitioned table. */
  def filesPerPartition(root: String): Double = {
    val files = walk(root).filter(isData)
    val parts = files.map(_.getParent).distinct.size
    if (parts == 0) 0.0 else files.size.toDouble / parts
  }

  def delete(root: String): Unit =
    walk(root).reverse.foreach(p => JFiles.deleteIfExists(p))
}
