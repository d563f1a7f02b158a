package graft.sources

import graft.streaming.IngestPipeline.Sink
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** File-mirror sink — the reference's FileAdapter (handler/file.go:
  * 45-67): copy each record's content to `destRoot/folder/name`,
  * preserving the source modify time (file.go:60-63 Chtimes). The
  * Spark-native dual writes from executors through the Hadoop
  * FileSystem API, so destRoot can be local, HDFS, or an object store
  * — each partition writes its own rows, no driver funnel. Local
  * destinations go through [[LocalFs]] (the session's `file:`
  * binding): without native Hadoop, stock local `chmod` forks a
  * process for each mirrored file.
  *
  * Replay-idempotent by construction: the destination path is a pure
  * function of the record key and a re-copy overwrites bit-identically
  * — the property prioritySinks' retry-from-checkpoint relies on.
  */
object FileMirrorSink {

  /** Write one batch: content + mtime to destRoot/folder/name. The
    * session's Hadoop configuration ships to the executors as a plain
    * Map (Configuration itself is not serializable), so credentialed
    * destinations (hdfs://, s3a://) resolve the same as driver-side
    * reads; each partition opens (and closes) its own non-cached
    * FileSystem, never the JVM-shared cached instance.
    */
  def write(batch: DataFrame, destRoot: String): Unit = {
    val confMap: Seq[(String, String)] = {
      val it = batch.sparkSession.sparkContext.hadoopConfiguration.iterator()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    val rows = batch.select("folder", "name", "content", "modify_time")
    rows.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      if (it.hasNext) {
        val conf = new Configuration(false)
        confMap.foreach { case (k, v) => conf.set(k, v) }
        val root = new Path(destRoot)
        val fs = FileSystem.newInstance(root.toUri, conf) // not the shared cache
        try {
          // mirror bytes only, no .crc sidecars: write below a checksum
          // layer (the local filesystem's), which would also derive a
          // ".name.crc" path through the URI-parsing String constructor
          val out = fs match {
            case c: ChecksumFileSystem => c.getRawFileSystem
            case f => f
          }
          it.foreach { r =>
            // the relative part goes through the (scheme, authority,
            // path) constructor: the String one parses it as a URI, so
            // a ':' in a folder or name (run_12:30:00.log) reads as a
            // scheme and throws; an empty folder writes under the root
            val folder = r.getAs[String]("folder")
            val name = r.getAs[String]("name")
            val dest = new Path(root,
              new Path(null, null, if (folder.isEmpty) name else s"$folder/$name"))
            val os = out.create(dest, true) // overwrite = idempotent replay
            try os.write(r.getAs[String]("content").getBytes("UTF-8"))
            finally os.close()
            out.setTimes(dest, r.getAs[Long]("modify_time"), -1)
          }
        } finally fs.close()
      }
    }
  }

  /** As a prioritized pipeline sink (file handlers run at priority 1
    * in the reference, below the store handlers).
    */
  def sink(destRoot: String, priority: Int = 1): Sink =
    Sink("file-mirror", priority, (batch, _) => write(batch, destRoot))

  /** Console sink (handler/console.go): names to stdout, lowest
    * priority — the debugging tap. Driver transfer is capped at
    * `sample` rows per batch so the tap stays safe on a full-size
    * stream (the reference logs at Debug level for the same reason).
    */
  def consoleSink(priority: Int = 0, sample: Int = 20): Sink =
    Sink("console", priority, (batch, batchId) =>
      batch.select("folder", "name").limit(sample).collect()
        .foreach(r => println(s"[console] batch=$batchId ${r.getString(0)}/${r.getString(1)}")))
}
