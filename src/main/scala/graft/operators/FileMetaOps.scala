package graft.operators

import graft.Tables
import graft.functions.{ContentFns, PathFns}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** C-family: the reference's FileMeta pipeline over the `documents`
  * table. Documents stand in for watched files via a deterministic
  * synthesized path (`source/lang[/deep]/d<doc_id><ext>`), so every
  * GetFileMeta/plugin-ETL/content-policy field is exercised from real
  * table input and is reproducible in the DuckDB oracle.
  */
object FileMetaOps {

  /** Deterministic watch-tree path for a document row. */
  def synthPath: Column =
    concat(col("source"), lit("/"), col("lang"),
      when(col("doc_id") % 3 === 0, "/deep").otherwise(""),
      lit("/d"), col("doc_id").cast(StringType),
      element_at(array(lit(".log"), lit(".txt"), lit(".zip"), lit(".dat")),
        (col("doc_id") % 4 + 1).cast("int")))

  /** Synth test-id carrying a BSI-style embedded timestamp tail. */
  def synthTestId: Column = {
    val day = lpad((col("doc_id") % 28 + 1).cast(StringType), 2, "0")
    val hour = lpad((col("doc_id") % 24).cast(StringType), 2, "0")
    val mi = lpad((col("doc_id") * 7 % 60).cast(StringType), 2, "0")
    val se = lpad((col("doc_id") * 13 % 60).cast(StringType), 2, "0")
    val ms = lpad((col("doc_id") * 31 % 1000).cast(StringType), 3, "0")
    concat(lit("MBBIVS"), lpad(col("doc_id").cast(StringType), 9, "0"),
      lit("_1W_1_2017-06-"), day, lit("_"), hour, lit("_"), mi, lit("_"),
      se, lit("_"), ms)
  }

  /** C1: GetFileMeta field extraction. */
  def fileMetaExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("path", synthPath)
      .select(col("doc_id"), col("path"),
        PathFns.folder(col("path")).as("folder"),
        PathFns.filename(col("path")).as("name"),
        PathFns.ext(col("path")).as("ext"),
        PathFns.depth(col("path")).as("depth"))
      .orderBy("doc_id")

  /** C2: Rule filter (Patterns ∧ ¬Ignores ∧ MaxNestingLevel). */
  def filePatternFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("path", synthPath)
      .filter(PathFns.ruleFilter(col("path"), ".*\\.(log|txt)$", ".*/deep/.*", 2L))
      .select("doc_id", "path")
      .orderBy("doc_id")

  /** C3: BSI plugin ETL — embedded test-id timestamp becomes
    * folder_time and the file_date partition key; create_time is
    * overridden to folder_time (BSI.go:53-56).
    */
  def bsiTestIdTime(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("testid", synthTestId)
      .withColumn("folder_time", PathFns.bsiTestIdTime(col("testid")))
      .select(col("doc_id"), col("testid"), col("folder_time"),
        date_format(col("folder_time"), "yyyy-MM-dd").as("file_date"),
        col("folder_time").as("create_time"))
      .orderBy("doc_id")

  /** C4: content policy — md5 checksum + gzip policy flag
    * (compress.go); compress_size = size when not compressed (the
    * gzip'd size is produced by the rows-only C6 op).
    */
  def contentPolicy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("path", synthPath)
      .withColumn("ext", PathFns.ext(col("path")))
      .withColumn("compress",
        ContentFns.shouldCompress(col("n_chars"), col("ext")))
      .select(col("doc_id"),
        ContentFns.checksum(col("text")).as("checksum"),
        col("n_chars").as("size"), col("ext"), col("compress"),
        when(!col("compress"), col("n_chars")).cast(LongType).as("compress_size"))
      .orderBy("doc_id")

  /** C5: Kafka envelope key + schema-payload identity fields
    * (kafka.go:318-390). Zip docs model archive-entry records: pack =
    * archive name, name = inner entry path.
    */
  def kafkaEnvelopeKey(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("path", synthPath)
      .withColumn("folder", PathFns.folder(col("path")))
      .withColumn("fname", PathFns.filename(col("path")))
      .withColumn("is_zip", PathFns.ext(col("path")) === ".zip")
      .withColumn("pack", when(col("is_zip"), col("fname")).otherwise(""))
      .withColumn("name",
        when(col("is_zip"),
          concat(lit("inner/"), regexp_replace(col("fname"), "\\.zip$", ".txt")))
          .otherwise(col("fname")))
      .withColumn("file_time",
        (lit(1704067200000L) + col("doc_id") * 60000L).cast(LongType))
    d.select(col("doc_id"),
        PathFns.kafkaKey(col("folder"), col("pack"), col("name")).as("msg_key"),
        col("pack"), col("name"),
        date_format(timestamp_millis(col("file_time")), "yyyy-MM-dd").as("file_date"),
        col("file_time"), col("n_chars").as("size"))
      .orderBy("doc_id")
  }

  /** Cassandra-table analog sink: the reference's primary layout is
    * partitioned by file_date (cassandra.go:300-330); the Spark-native
    * equivalent is date-partitioned parquet whose written days are
    * swapped in through [[graft.sources.DirSwap]] (re-ingesting a day
    * replaces exactly that day; a crash never loses one).
    */
  def writePartitionedByDate(df: DataFrame, path: String): Unit =
    graft.sources.DirSwap.replace(df.sparkSession, path) { stage =>
      df.write.partitionBy("file_date").parquet(stage.toString)
    }

  /** C6 (rows-only): real gzip via the custom Catalyst expressions —
    * compressed sizes + decompress roundtrip check.
    */
  def gzipContent(spark: SparkSession, dir: String): DataFrame = {
    val bin = encode(col("text"), "UTF-8")
    Tables.documents(spark, dir)
      .withColumn("gz", ContentFns.gzipCompress(bin))
      .select(col("doc_id"),
        length(bin).cast(LongType).as("orig_size"),
        length(col("gz")).cast(LongType).as("gzip_size"),
        (ContentFns.gzipDecompress(col("gz")) === bin).as("roundtrip_ok"))
      .orderBy("doc_id")
  }
}
