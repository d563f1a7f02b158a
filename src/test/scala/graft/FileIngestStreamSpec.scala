package graft

import java.nio.file.Files

import graft.streaming.IngestPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** End-to-end streaming ingest: a watched directory of parquet file
  * batches (the agent's event feed) streams through FileMeta
  * enrichment + content policy into the Kafka envelope and a
  * priority-ordered sink chain — the full reference pipeline as one
  * Structured Streaming query.
  */
class FileIngestStreamSpec extends GraftSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("path", StringType), StructField("content", StringType),
    StructField("host", StringType), StructField("mtime_ms", LongType)))

  private def writeBatch(dir: java.io.File): Unit =
    Seq(
      ("LOUP/1395T2936101/2017-06-07/T1/FLOWLOG.TXT", "line1 line2", "m1", 1496851200000L),
      ("SPI/Rockaway/a/b/wide.dat", "d".repeat(2000), "m2", 1496851201000L))
      .toDF("path", "content", "host", "mtime_ms")
      .write.mode("append").parquet(dir.getAbsolutePath)

  test("file-watch stream enriches and envelopes records") {
    val dir = Files.createTempDirectory("graft_ingest").toFile
    writeBatch(dir)

    val enveloped = IngestPipeline.ingest(
      spark.readStream.schema(schema).parquet(dir.getAbsolutePath))
    val q = enveloped.writeStream.format("memory").queryName("ingest")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("ingest").collect()
      assert(rows.length == 2)
      val keys = rows.map(_.getAs[String]("key")).sorted
      assert(keys(0) == "LOUP/1395T2936101/2017-06-07/T1/FLOWLOG.TXT")
      assert(keys(1) == "SPI/Rockaway/a/b/wide.dat")
      val big = rows.find(_.getAs[String]("key").endsWith(".dat")).get
      val v = big.getAs[String]("value")
      assert(v.contains("\"compress\":true"))
      assert(v.contains("\"checksum\":\""))
    } finally q.stop()
  }

  test("streaming ingest with the Avro wire emits decodable Confluent frames") {
    import graft.functions.AvroEnvelope
    import graft.streaming.AvroWire
    val dir = Files.createTempDirectory("graft_ingest_avro").toFile
    writeBatch(dir)
    val q = IngestPipeline.ingest(
        spark.readStream.schema(schema).parquet(dir.getAbsolutePath),
        AvroWire(7))
      .writeStream.format("memory").queryName("ingest_avro")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("ingest_avro").collect()
      assert(rows.length == 2)
      rows.foreach { r =>
        val (id, rec) = AvroEnvelope.decode(r.getAs[Array[Byte]]("value"))
        assert(id == 7)
        assert(r.getAs[String]("key") ==
          (rec.get("folder").toString + "/" + rec.get("name").toString))
      }
      val big = rows.find(_.getAs[String]("key").endsWith(".dat")).get
      val (_, rec) = AvroEnvelope.decode(big.getAs[Array[Byte]]("value"))
      assert(rec.get("compress") == true) // content policy ran upstream
    } finally q.stop()
  }

  test("plugin-ETL ingest: BSI time override, rule scoping, unmatched biz dropped") {
    import graft.plugins._
    val dir = Files.createTempDirectory("graft_ingest_plugin").toFile
    Seq(
      // BSI with a valid 4-segment test-id folder -> folder_time overridden
      ("BSI/1395T2936101/2017-06-07/MBBIVS171700094_1W_1_2017-06-07_16_15_42_797/FLOWLOG.ZIP",
        "flow data", "m1", 1496851200000L),
      // BSI path not matching the zip|txt pattern -> dropped by rule
      ("BSI/a/b/c/run.log", "log", "m1", 1496851200000L),
      // SPI.DAT record -> default transform, times untouched
      ("SPI.DAT/m1/x.dat", "dat", "m2", 1496851201000L),
      // biz with no plugin -> dropped
      ("OTHER/y.txt", "t", "m3", 1496851202000L))
      .toDF("path", "content", "host", "mtime_ms")
      .write.mode("append").parquet(dir.getAbsolutePath)

    val plugins = PluginRegistry.autoload(IniConfig.parse(
      """[BSI]
        |watch = /data/bsi
        |patterns = (?i).*\.(zip|txt|dat)$
        |max_nesting_level = 6
        |[SPI.DAT]
        |watch = /data/spi
        |patterns = .*\.dat$
        |""".stripMargin))
    val q = IngestPipeline.ingestWithPlugins(
        spark.readStream.schema(schema).parquet(dir.getAbsolutePath), plugins)
      .writeStream.format("memory").queryName("plugin_ingest")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("plugin_ingest").collect()
      assert(rows.length == 2, rows.map(_.getAs[String]("key")).mkString(","))
      val bsi = rows.find(_.getAs[String]("key").contains("FLOWLOG")).get
      // 2017-06-07 16:15:42.797 UTC == 1496852142797 ms
      assert(bsi.getAs[String]("value").contains("\"folder_time\":1496852142797"))
      val spi = rows.find(_.getAs[String]("key").endsWith("x.dat")).get
      assert(spi.getAs[String]("value").contains("\"folder_time\":1496851201000"))
    } finally q.stop()
  }

  test("priority sinks apply serially in priority order; failure stops the chain") {
    val dir = Files.createTempDirectory("graft_ingest2").toFile
    writeBatch(dir)

    val applied = scala.collection.mutable.ArrayBuffer.empty[String]
    val sinks = Seq(
      IngestPipeline.Sink("file", 1, (b: DataFrame, _: Long) => { b.count(); applied += "file"; () }),
      IngestPipeline.Sink("cassandra", 3, (b: DataFrame, _: Long) => { b.count(); applied += "cassandra"; () }),
      IngestPipeline.Sink("kafka", 2, (b: DataFrame, _: Long) => { b.count(); applied += "kafka"; () }))
    val q = IngestPipeline.prioritySinks(IngestPipeline.ingest(
      spark.readStream.schema(schema).parquet(dir.getAbsolutePath)), sinks).start()
    try q.processAllAvailable() finally q.stop()
    assert(applied.toSeq == Seq("cassandra", "kafka", "file"))

    // a failing high-priority sink stops lower-priority sinks (serial
    // apply + rethrow = retry-from-checkpoint semantics)
    val applied2 = scala.collection.mutable.ArrayBuffer.empty[String]
    val failing = Seq(
      IngestPipeline.Sink("kafka", 2, (_: DataFrame, _: Long) =>
        throw new RuntimeException("broker down")),
      IngestPipeline.Sink("file", 1, (b: DataFrame, _: Long) => { applied2 += "file"; () }))
    val dir2 = Files.createTempDirectory("graft_ingest3").toFile
    writeBatch(dir2)
    val q2 = IngestPipeline.prioritySinks(IngestPipeline.ingest(
      spark.readStream.schema(schema).parquet(dir2.getAbsolutePath)), failing).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination()
    }
    q2.stop()
    assert(err.getMessage.contains("broker down") ||
      Option(err.getCause).exists(_.getMessage.contains("broker down")))
    assert(applied2.isEmpty)

    // kafka writer wiring: configured shape (no brokers in the test env)
    val w = IngestPipeline.toKafka(IngestPipeline.ingest(
      spark.readStream.schema(schema).parquet(dir2.getAbsolutePath)),
      "broker:9092", "dcagent", Files.createTempDirectory("ckpt").toString)
    assert(w != null)
  }

  test("file-mirror sink lays out folder/name, preserves mtime, replays idempotently") {
    import graft.sources.FileMirrorSink
    val in = Files.createTempDirectory("graft_mirror_in").toFile
    val dest = Files.createTempDirectory("graft_mirror_out").toFile.getAbsolutePath
    writeBatch(in)
    // ':' in a folder and a name must not be parsed as a URI scheme;
    // a root-level path has an empty folder
    Seq(("BSI/x:y/run_12:30:00.log", "colon", "m3", 1496851202000L),
      ("/top_12:00.log", "top", "m4", 1496851203000L))
      .toDF("path", "content", "host", "mtime_ms")
      .write.mode("append").parquet(in.getAbsolutePath)

    def runOnce(): Unit = {
      val q = IngestPipeline.prioritySinks(
        IngestPipeline.enrich(
          spark.readStream.schema(schema).parquet(in.getAbsolutePath)),
        Seq(FileMirrorSink.sink(dest), FileMirrorSink.consoleSink())).start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()

    val flow = new java.io.File(dest, "LOUP/1395T2936101/2017-06-07/T1/FLOWLOG.TXT")
    assert(flow.isFile, s"mirror missing: $flow")
    assert(new String(Files.readAllBytes(flow.toPath), "UTF-8") == "line1 line2")
    assert(flow.lastModified == 1496851200000L) // file.go:60-63 Chtimes
    val wide = new java.io.File(dest, "SPI/Rockaway/a/b/wide.dat")
    assert(wide.isFile && wide.length == 2000)
    val colon = new java.io.File(dest, "BSI/x:y/run_12:30:00.log")
    assert(colon.isFile, s"mirror missing: $colon")
    assert(new String(Files.readAllBytes(colon.toPath), "UTF-8") == "colon")
    assert(colon.lastModified == 1496851202000L)
    val top = new java.io.File(dest, "top_12:00.log")
    assert(new String(Files.readAllBytes(top.toPath), "UTF-8") == "top")
    assert(top.lastModified == 1496851203000L)

    // replay the same input (new checkpoint-less query = full re-send):
    // byte-identical overwrite, no duplicates, mtime still pinned
    runOnce()
    assert(new String(Files.readAllBytes(flow.toPath), "UTF-8") == "line1 line2")
    assert(flow.lastModified == 1496851200000L)
    def countFiles(f: java.io.File): Int =
      if (f.isFile) 1 else Option(f.listFiles).map(_.map(countFiles).sum).getOrElse(0)
    assert(countFiles(new java.io.File(dest)) == 4)
  }
}
