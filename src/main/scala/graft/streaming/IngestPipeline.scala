package graft.streaming

import graft.functions.{ContentFns, PathFns}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.Row

/** The reference agent's main loop as one composable Structured
  * Streaming pipeline: discovered files → FileMeta enrichment →
  * content policy (checksum + gzip decision) → Kafka {schema,payload}
  * envelope → prioritized sinks.
  *
  * Mirrors watchdog.go:330-390 (enrich), handler/kafka.go:272-300
  * (policy), handler/kafka.go:318-390 (envelope), watchdog.go:97-107
  * (priority fan-out) — re-expressed as stream transforms so the same
  * code runs over a file-watch source locally and a Kafka/object-store
  * feed on a cluster.
  */
object IngestPipeline {

  /** Input contract: (path, content, host, mtime_ms) — what any
    * discovery source (file stream, Kafka feed) must provide.
    */
  val InputColumns: Seq[String] = Seq("path", "content", "host", "mtime_ms")

  /** FileMeta enrichment + content policy over a (streaming or batch)
    * DataFrame of discovered files. Pure per-row expressions: no
    * shuffle, fully codegen'd, horizontally scalable.
    */
  def enrich(files: DataFrame): DataFrame =
    files
      .withColumn("folder", PathFns.folder(col("path")))
      .withColumn("name", PathFns.filename(col("path")))
      .withColumn("ext", PathFns.ext(col("path")))
      .withColumn("size", octet_length(col("content")).cast(LongType))
      .withColumn("compress", ContentFns.shouldCompress(col("size"), col("ext")))
      .select(
        col("path"),
        date_format(timestamp_millis(col("mtime_ms")), "yyyy-MM-dd").as("file_date"),
        col("mtime_ms").as("file_time"), col("folder"), lit("").as("pack"),
        col("name"), col("size"), col("mtime_ms").as("modify_time"),
        col("content"), col("compress"),
        ContentFns.compressSize(col("compress"), col("size"),
          length(ContentFns.gzipCompress(encode(col("content"), "UTF-8"))))
          .as("compress_size"),
        ContentFns.checksum(col("content")).as("checksum"),
        col("host"), col("mtime_ms").as("folder_time"),
        col("mtime_ms").as("create_time"))

  /** Full pipeline: enrich + envelope → (key, value) ready for any
    * text/bytes sink. `wire` selects the value encoding (JSON default,
    * Confluent-framed Avro via AvroWire).
    */
  def ingest(files: DataFrame, wire: WireEncoding = JsonWire): DataFrame =
    StreamOps.kafkaEnvelope(enrich(files), wire)

  /** Plugin-ETL variant (watchdog.fileProcessor's hook chain): rows
    * are tagged with their business (first path segment = the watch
    * root), scoped by each plugin's rule (patterns/ignores/nesting),
    * transformed by its ETL hook (e.g. BSI test-id time override),
    * and union-merged — rows matching no plugin are dropped, exactly
    * like unwatched directories. Fully streaming-compatible: filters,
    * per-row transforms, and union are all stateless narrow ops.
    */
  def ingestWithPlugins(files: DataFrame,
      plugins: Seq[graft.plugins.GraftPlugin],
      wire: WireEncoding = JsonWire): DataFrame = {
    // plugins operate on timestamp-typed folder/create times (like the
    // reference's FileMeta struct); the wire envelope carries int64 ms
    val tagged = enrich(files)
      .withColumn("biz", element_at(split(col("path"), "/"), 1))
      .withColumn("folder_time", timestamp_millis(col("folder_time")))
      .withColumn("create_time", timestamp_millis(col("create_time")))
    val processed = graft.plugins.PluginRegistry.pipeline(tagged, plugins)
      .withColumn("folder_time", unix_millis(col("folder_time")))
      .withColumn("create_time", unix_millis(col("create_time")))
    StreamOps.kafkaEnvelope(processed, wire)
  }

  /** Kafka sink wiring (handler/kafka.go:318-390): hash-partitioned by
    * the `folder/[pack/]name` message key, exactly-once via
    * checkpointed offsets. The writer is fully configured — callers
    * `.start()` it where brokers exist; the envelope/key shape is
    * covered by tests without brokers.
    */
  def toKafka(enveloped: DataFrame, bootstrapServers: String, topic: String,
      checkpointDir: String): DataStreamWriter[Row] =
    enveloped.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)

  /** A prioritized sink: name for diagnostics, priority (higher runs
    * first, like handler.GetPriority), and the per-batch write.
    */
  final case class Sink(name: String, priority: Int,
      write: (DataFrame, Long) => Unit)

  /** Priority fan-out (watchdog.go:97-107): handlers sorted by
    * priority desc, applied serially per micro-batch; a failure stops
    * the chain and rethrows, so the batch is retried from the
    * checkpoint and already-applied sinks overwrite idempotently (the
    * reference's rollback, re-expressed as replay + idempotent upsert —
    * the correct distributed analog of its in-memory rollback).
    */
  def prioritySinks(enveloped: DataFrame, sinks: Seq[Sink]): DataStreamWriter[Row] = {
    val ordered = sinks.sortBy(s => (-s.priority, s.name))
    enveloped.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      batch.persist()
      try ordered.foreach { s => s.write(batch, batchId) }
      finally batch.unpersist()
      ()
    }
  }
}
