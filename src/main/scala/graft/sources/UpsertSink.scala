package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Keyed idempotent upsert writer — the Spark-native dual of the
  * reference's Cassandra insert-or-replace on the primary key
  * (cassandra.go:208-265: a later INSERT with the same
  * (file_date, file_time, folder, pack, name) replaces the row;
  * cassandra.go:330-350 declares that PK). Re-ingesting a batch — the
  * agent's replay-on-failure behavior — must leave the table with
  * exactly one, latest, record per key.
  *
  * MERGE shape at scale: only the batch's `file_date=` directories
  * that exist are read (the rest of the table is never listed),
  * merged with the batch last-write-wins per PK on `versionCol`
  * (Cassandra timestamp semantics), written once into a [[DirSwap]]
  * stage and swapped in day by day. Work is proportional to the
  * touched days, not the table; a day's rewrite is what
  * LeveledCompaction does for the same workload on the reference side.
  * A crash at any step leaves every day old or new, and the replay
  * converges to the same table.
  */
object UpsertSink {

  /** cassandra.go:349 PRIMARY KEY (file_date, file_time, folder, pack, name) */
  val PrimaryKey: Seq[String] = Seq("file_date", "file_time", "folder", "pack", "name")

  /** Sidecar carrying the table's declared schema — the parquet dual
    * of the reference's table metadata.
    */
  val SchemaFile = "_graft_schema.json"

  /** Table init/validation — the dual of cassandra.go:326-360
    * CheckCassandraTable, which creates the keyspace/table on first
    * deploy and implicitly pins the schema for every later write.
    * First run: persist the expected schema as a sidecar under the
    * table root. Re-deploys: validate the incoming batch against the
    * declared schema and FAIL LOUDLY on drift (a silently mixed-schema
    * parquet table is the analog of Cassandra rejecting a mismatched
    * INSERT, except it corrupts reads much later — so the check moves
    * to write time). Field order is not part of the contract
    * (columns-by-name, like CQL).
    */
  def ensureTable(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecar = new Path(root, SchemaFile)
    if (!fs.exists(sidecar)) {
      fs.mkdirs(root)
      val out = fs.create(sidecar, true)
      try out.write(batch.schema.json.getBytes("UTF-8")) finally out.close()
    } else {
      val in = fs.open(sidecar)
      val declaredJson = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val declared = DataType.fromJson(declaredJson).asInstanceOf[StructType]
      val d = declared.fields.map(f => f.name -> f.dataType).toMap
      val b = batch.schema.fields.map(f => f.name -> f.dataType).toMap
      if (d != b)
        throw new IllegalStateException(
          s"schema drift at $path: declared=${declared.simpleString} " +
            s"batch=${batch.schema.simpleString}")
    }
  }

  /** Insert-or-replace `batch` into the date-partitioned parquet table
    * at `path`. Later `versionCol` wins per PK (ties are arbitrary,
    * like same-timestamp Cassandra writes); `file_date` must be a
    * batch column (becomes the partition key).
    */
  def upsert(batch: DataFrame, path: String,
      pk: Seq[String] = PrimaryKey, versionCol: String = "upload_time"): Unit = {
    val spark = batch.sparkSession
    ensureTable(batch, path) // init or validate schema, CheckCassandraTable-style
    DirSwap.replace(spark, path) { stage =>
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // .get(0).toString, not getString: file_date may be STRING or DATE
      // typed; the day directory names the value's string form
      val touched = batch.select("file_date").distinct().collect()
        .map(r => new Path(root,
          ExternalCatalogUtils.getPartitionPathString("file_date", r.get(0).toString)))
        .filter(fs.exists)
      val existing =
        if (touched.isEmpty) None
        else Some(spark.read.option("basePath", path)
          .parquet(touched.map(_.toString).toSeq: _*)
          .select(batch.columns.map(col): _*))
      val all = existing.fold(batch)(batch.unionByName(_))
      val w = Window.partitionBy(pk.map(col): _*).orderBy(desc(versionCol))
      all.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .write.partitionBy("file_date").parquet(stage.toString)
    }
  }
}
