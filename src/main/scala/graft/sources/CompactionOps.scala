package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-files compaction for date-partitioned parquet tables — the
  * maintenance dual of the streaming ingest: micro-batches fragment a
  * day into many tiny files (one per trigger × task), and scan
  * parallelism then pays a task per file. Compaction decisions come
  * from the FILE LISTING only (no data scan); only flagged partitions
  * are read and rewritten, each to ceil(bytes/targetFileBytes) files,
  * and swapped in per partition through [[DirSwap]]. Work is
  * proportional to the fragmented days, never the table.
  */
object CompactionOps {

  final case class PartitionStat(dir: String, files: Int, bytes: Long)

  /** File-listing stats per partition directory (`file_date=*`). */
  def stats(spark: SparkSession, path: String): Seq[PartitionStat] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("=")
        && !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
      .map { d =>
        val data = fs.listStatus(d.getPath).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
            && !f.getPath.getName.startsWith("."))
        PartitionStat(d.getPath.getName, data.size, data.map(_.getLen).sum)
      }
  }

  /** Compact partitions whose mean file size is below
    * `targetFileBytes / 2` and which hold more than `minFiles` files.
    * Returns the partition names rewritten.
    *
    * The flagged partitions are rewritten into one [[DirSwap]] stage
    * and swapped in per partition; an interrupted earlier run is
    * healed first (its live partitions roll forward or back, its
    * leftovers go), so a crash at any step loses no row.
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minFiles: Int = 4): Seq[String] =
    DirSwap.replace(spark, path) { stage =>
      val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
      stats(spark, path).filter(s =>
        s.files > minFiles && s.bytes / math.max(1, s.files) < targetFileBytes / 2)
        .foreach { p =>
          val n = math.max(1L, (p.bytes + targetFileBytes - 1) / targetFileBytes).toInt
          val out = new Path(stage, p.dir)
          spark.read.parquet(new Path(path, p.dir).toString)
            .coalesce(n)
            .write.parquet(out.toString)
          // drop parquet's _SUCCESS marker so the dir holds data files only
          fs.delete(new Path(out, "_SUCCESS"), false)
        }
    }
}
