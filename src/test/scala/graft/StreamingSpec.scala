package graft

import java.sql.Timestamp

import graft.streaming.{Ev, StreamOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends GraftSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("E1 debounce emits the last event of a burst after quiescence") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StreamOps.debounceStream(in.toDS(), gapMs = 5 * 60 * 1000,
      watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("deb")
      .outputMode("append").start()
    try {
      // burst of 3 events within the gap, then quiet
      in.addData(Ev(1, ts(0), 7, "write", 1.0), Ev(2, ts(1), 7, "write", 1.0),
        Ev(3, ts(2), 7, "create", 1.0))
      q.processAllAvailable()
      // advance event time past the timeout so the timer fires
      in.addData(Ev(99, ts(30), 8, "write", 1.0))
      q.processAllAvailable()
      in.addData(Ev(100, ts(59), 8, "write", 1.0))
      q.processAllAvailable()
      val rows = spark.table("deb").as[graft.streaming.DebouncedEv].collect()
      val u7 = rows.filter(_.user_id == 7)
      assert(u7.length == 1)
      assert(u7.head.event_id == 3 && u7.head.burst_size == 3)
    } finally q.stop()
  }

  test("E7 streaming sessionize closes a session after the gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StreamOps.sessionizeStream(in.toDS(), gapMs = 5 * 60 * 1000,
      watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      in.addData(Ev(1, ts(0), 7, "click", 2.0), Ev(2, ts(2), 7, "click", 3.0))
      q.processAllAvailable()
      in.addData(Ev(3, ts(30), 8, "view", 1.0)) // advances event time
      q.processAllAvailable()
      in.addData(Ev(4, ts(59), 8, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sess").as[graft.streaming.SessionOut].collect()
      val u7 = rows.filter(_.user_id == 7)
      assert(u7.length == 1)
      assert(u7.head.n_events == 2 && u7.head.total_value == 5.0)
      assert(u7.head.t_start == ts(0) && u7.head.t_end == ts(2))
    } finally q.stop()
  }

  test("E2 windowed stats aggregate by tumbling window") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StreamOps.windowedStats(in.toDF(), "1 hour", "0 seconds")
    val q = out.writeStream.format("memory").queryName("win")
      .outputMode("complete").start()
    try {
      in.addData(Ev(1, ts(0), 1, "error", 2.0), Ev(2, ts(5), 2, "error", 3.0),
        Ev(3, ts(10), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win").collect()
      val err = rows.find(_.getAs[String]("event_type") == "error").get
      assert(err.getAs[Long]("n_events") == 2)
      assert(err.getAs[Double]("sum_value") == 5.0)
    } finally q.stop()
  }

  test("E12 sliding windows overlap, finalize on watermark, match the batch oracle") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val events = Seq(
      Ev(1, ts(0), 1, "error", 1.0), Ev(2, ts(3), 1, "click", 1.0),
      Ev(3, ts(7), 2, "error", 1.0), Ev(4, ts(12), 1, "error", 1.0),
      Ev(5, ts(14), 2, "click", 1.0))
    val flush = Ev(99, Timestamp.valueOf("2024-01-01 11:30:00"), 9, "click", 1.0)
    val out = StreamOps.slidingErrorRate(in.toDF(), "10 minutes", "5 minutes",
      watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("slide")
      .outputMode("append").start()
    try {
      in.addData(events: _*)
      q.processAllAvailable()
      // append emits nothing until the watermark passes the window end
      assert(spark.table("slide").count() == 0)
      in.addData(flush) // event time 11:30 -> watermark 11:20
      q.processAllAvailable()
      val got = spark.table("slide").collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      // an event at 10:07 sits in BOTH [10:00,10:10) and [10:05,10:15)
      val w0700 = got.filter(_._1 == Timestamp.valueOf("2024-01-01 10:00:00"))
      val w0705 = got.filter(_._1 == Timestamp.valueOf("2024-01-01 10:05:00"))
      assert(w0700.size == 1 && w0700.head._3 == 3 && w0700.head._4 == 2)
      assert(w0705.size == 1 && w0705.head._3 == 3 && w0705.head._4 == 2)
      // batch oracle: same operator over the same rows, windows the
      // watermark finalized (w_end <= 11:20)
      val oracle = StreamOps.slidingErrorRate(
          (events :+ flush).toDF(), "10 minutes", "5 minutes")
        .filter(col("w_end") <= lit(Timestamp.valueOf("2024-01-01 11:20:00")))
        .collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      assert(got == oracle, s"stream=$got oracle=$oracle")
    } finally q.stop()
  }

  test("E43 windowed regression: moments merge across micro-batches, equal the batch run") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    def at(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      Ev(1, at("2024-01-01 06:30:00"), 1, "error", 2.0),
      Ev(2, at("2024-01-01 07:30:00"), 1, "error", 3.5),
      Ev(3, at("2024-01-01 09:30:00"), 2, "error", 1.25),
      Ev(4, at("2024-01-01 08:15:00"), 1, "click", 4.0),
      Ev(5, at("2024-01-01 10:45:00"), 2, "click", 2.5))
    val flush = Ev(99, at("2024-01-02 13:00:00"), 9, "click", 1.0)
    val out = StreamOps.regressionWindowed(in.toDF(), "6 hours", "1 hour")
    val q = out.writeStream.format("memory").queryName("regw")
      .outputMode("append").start()
    try {
      // split MID-WINDOW: the second batch's moments must merge into
      // the first's inside the windowed state
      in.addData(events.take(2): _*)
      q.processAllAvailable()
      in.addData(events.drop(2): _*)
      q.processAllAvailable()
      assert(spark.table("regw").count() == 0,
        "append emitted before the watermark finalized the window")
      in.addData(flush)
      q.processAllAvailable()
      val got = spark.table("regw").collect().map(r =>
        (r.getStruct(0).getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
      // batch oracle: the SAME frame function over the same rows,
      // restricted to the windows the watermark finalized — doubles
      // must match bit-for-bit (algebraic accumulators, one code path)
      val oracle = StreamOps.regressionWindowed(events.toDF(), "6 hours",
          "1 hour")
        .filter(col("window.end") <= lit(at("2024-01-02 12:00:00")))
        .collect().map(r =>
          (r.getStruct(0).getTimestamp(0), r.getString(1), r.getLong(2),
            r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
      assert(got == oracle, s"stream=$got oracle=$oracle")
      // the fixture has real trends: a nonzero slope survived
      assert(got.exists(_._4 != 0.0))
    } finally q.stop()
  }

  test("E3 streaming dedup drops duplicate (user_id, event_id)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StreamOps.dedupStream(in.toDF(), "1 hour")
    val q = out.writeStream.format("memory").queryName("ddp")
      .outputMode("append").start()
    try {
      in.addData(Ev(1, ts(0), 1, "write", 1.0), Ev(1, ts(0), 1, "write", 1.0),
        Ev(2, ts(1), 1, "write", 1.0))
      q.processAllAvailable()
      assert(spark.table("ddp").count() == 2)
    } finally q.stop()
  }

  test("E5 change detect flags moved mtimes only") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = StreamOps.changeDetectStream(in.toDS())
    val q = out.writeStream.format("memory").queryName("chg")
      .outputMode("append").start()
    try {
      in.addData(Ev(1, ts(0), 1, "write", 1.0))
      q.processAllAvailable()
      in.addData(Ev(1, ts(0), 1, "write", 1.0)) // same mtime -> unchanged
      q.processAllAvailable()
      in.addData(Ev(1, ts(5), 1, "write", 1.0)) // moved -> changed
      q.processAllAvailable()
      val rows = spark.table("chg").orderBy("ts").collect()
      assert(rows.map(_.getAs[Boolean]("changed")).toSeq ==
        Seq(true, false, true))
    } finally q.stop()
  }

  test("E4 kafka envelope matches the reference JSON shape") {
    val rec = Seq(("2017-06-07", 1496851200000L, "LOUP/1395T2936101", "",
      "FLOWLOG.TXT", 123L, 1496851200000L, "0xdead", false, 123L,
      "abc123", "host1", 1496851200000L))
      .toDF("file_date", "file_time", "folder", "pack", "name", "size",
        "modify_time", "content", "compress", "compress_size", "checksum",
        "host", "folder_time")
    val env = StreamOps.kafkaEnvelope(rec).collect().head
    assert(env.getAs[String]("key") == "LOUP/1395T2936101/FLOWLOG.TXT")
    val v = env.getAs[String]("value")
    assert(v.startsWith("{\"schema\":{\"type\":\"struct\""))
    // payload must parse back with the exact field set
    val payload = spark.read.json(Seq(v).toDS())
      .select(col("payload.*")).columns.toSet
    assert(payload == Set("file_date", "file_time", "folder", "pack", "name",
      "size", "modify_time", "content", "compress", "compress_size",
      "checksum", "host", "folder_time"))
  }

  test("E4 avro envelope: confluent framing, schema-true payload, non-JSON wire") {
    import graft.functions.AvroEnvelope
    import graft.streaming.AvroWire
    val rec = Seq(("2017-06-07", 1496851200000L, "LOUP/1395T2936101", "",
      "FLOWLOG.TXT", 123L, 1496851200000L, "0xdead", false, 123L,
      "abc123", "host1", 1496851200000L))
      .toDF("file_date", "file_time", "folder", "pack", "name", "size",
        "modify_time", "content", "compress", "compress_size", "checksum",
        "host", "folder_time")
    val env = StreamOps.kafkaEnvelope(rec, AvroWire(42)).collect().head
    assert(env.getAs[String]("key") == "LOUP/1395T2936101/FLOWLOG.TXT")
    val bytes = env.getAs[Array[Byte]]("value")
    // magic 0, not '{' — this is a binary wire, not the JSON envelope
    assert(bytes(0) == 0.toByte && bytes(0) != '{'.toByte)
    // decode against the PUBLISHED schema: proves the positional
    // encoding conforms to it (the from_avro(to_avro(x)) == x dual)
    val (schemaId, r) = AvroEnvelope.decode(bytes)
    assert(schemaId == 42)
    assert(r.get("file_date").toString == "2017-06-07")
    assert(r.get("file_time") == 1496851200000L)
    assert(r.get("folder").toString == "LOUP/1395T2936101")
    assert(r.get("pack").toString == "")
    assert(r.get("name").toString == "FLOWLOG.TXT")
    assert(r.get("size") == 123L)
    assert(r.get("modify_time") == 1496851200000L)
    assert(r.get("content").toString == "0xdead")
    assert(r.get("compress") == false)
    assert(r.get("compress_size") == 123L)
    assert(r.get("checksum").toString == "abc123")
    assert(r.get("host").toString == "host1")
    assert(r.get("folder_time") == 1496851200000L)
  }

  test("E4 enrich: size is the UTF-8 byte count, so multi-byte content crosses the gzip threshold") {
    import graft.streaming.IngestPipeline
    // 600 CJK characters = 1800 UTF-8 bytes: over the 1024-byte gzip
    // threshold by bytes, under it by characters
    val content = "\u65e5\u5fd7" * 300
    val bytes = content.getBytes("UTF-8")
    assert(content.length == 600 && bytes.length == 1800)
    val files = Seq(("LOUP/1395T2936101/FLOWLOG.TXT", content, "host1",
      1496851200000L)).toDF(IngestPipeline.InputColumns: _*)
    val r = IngestPipeline.enrich(files).collect().head
    assert(r.getAs[Long]("size") == 1800L)
    assert(r.getAs[Boolean]("compress"))
    assert(r.getAs[Long]("compress_size") ==
      graft.functions.GzipCodec.gzip(bytes).length.toLong)
  }

  test("E4 zip-entry records key as folder/pack/name") {
    val rec = Seq(("2017-06-07", 1L, "LOUP", "FLOWLOG.ZIP", "inner/a.txt",
      1L, 1L, "0x", false, 1L, "c", "h", 1L))
      .toDF("file_date", "file_time", "folder", "pack", "name", "size",
        "modify_time", "content", "compress", "compress_size", "checksum",
        "host", "folder_time")
    val env = StreamOps.kafkaEnvelope(rec).collect().head
    assert(env.getAs[String]("key") == "LOUP/FLOWLOG.ZIP/inner/a.txt")
  }
}
