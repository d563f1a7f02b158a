package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistent storage for the engine's layout artifacts (SURVEY §2
  * r8: "persist the layouts") — the bridge from session-resident
  * engine to restartable production system. Every artifact the
  * session memoizes in [[graft.Memo]] (IVF-PQ coded lists, inverted
  * postings, the corpus manifest/keeper map/CC labels, MinHash band
  * signatures) can be written ONCE as a bucketed external parquet
  * table and served by any later session from the table alone — no
  * rebuild, no memo state.
  *
  * Why bucketed: the groupBy/repartition exchange that builds each
  * layout IS the layout (cf. SURVEY D35) — bucketBy(probe-key)
  * persists that exchange, so a probe reads only its buckets
  * (SelectedBucketsCount pruning with literal keys) and co-keyed
  * joins elide their exchanges entirely.
  *
  * Why external (explicit LOCATION under the warehouse): catalog
  * metadata in the default in-memory catalog dies with the JVM, the
  * files must not. [[ensure]] re-registers a table over its surviving
  * files with the SAME bucket spec (Spark recovers per-file bucket
  * ids from the bucketed file names), which is exactly the restart
  * path a production deployment runs.
  */
object LayoutStore {

  // Per-TABLE mutation locks (r15 opt): the former object-wide
  // `synchronized` serialized every ensure/build across the whole
  // store — fatal for the parallel layout build (guide §2.6), where
  // worker threads each build a DIFFERENT table. Catalog and file
  // mutations for one table still serialize through its own monitor;
  // a build that ensures ANOTHER table nests that table's lock
  // (acyclic family dependencies, so no deadlock).
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(table: String): Object =
    tableLocks.computeIfAbsent(table, (_: String) => new Object)

  /** Layout format version — part of every table name, so a geometry
    * or builder change can never serve a stale layout written by an
    * older engine.
    */
  val Version = 1

  /** Deterministic table + path name per (family, source dir). */
  def tableName(family: String, dir: String): String = {
    val sf = dir.replaceAll("[^A-Za-z0-9]", "_").replaceAll("_+", "_")
      .replaceAll("^_|_$", "")
    s"graft_layout_v${Version}_${family}_$sf"
  }

  private def warehouse(spark: SparkSession): String =
    spark.conf.get("spark.sql.warehouse.dir")
      .replaceFirst("^file:", "")

  private def layoutsRoot(spark: SparkSession): String =
    s"${warehouse(spark)}/graft_layouts"

  private[graft] def location(spark: SparkSession, table: String): String =
    s"${layoutsRoot(spark)}/$table"

  /** Serve a layout table (the read side — a plain catalog read; the
    * bucket spec rides from the catalog entry).
    */
  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  def exists(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table)

  /** Make `table` servable, choosing the cheapest sufficient path:
    *  1. already in the catalog → nothing to do (no listing);
    *  2. a [[compact]] died mid-swap → [[DirSwap.heal]] finishes or
    *     undoes it, then re-register (`swap_recovered`);
    *  3. files survive at the layout location (prior JVM wrote them,
    *     catalog died with it) → re-register the table over the files
    *     with the same bucket spec — the RESTART path, O(metadata);
    *  4. nothing on disk → build the frame and write it bucketed —
    *     the layout shuffle, paid exactly once per (family, dir,
    *     version).
    * Returns the path taken, for specs/bench to assert on.
    */
  def ensure(spark: SparkSession, table: String, bucketKeys: Seq[String],
      buckets: Int)(build: => DataFrame): String = lockFor(table).synchronized {
    if (exists(spark, table)) "catalog"
    else {
      val loc = location(spark, table)
      // a sealed stage rolled forward IS the table: nothing is lost
      if (DirSwap.heal(spark, layoutsRoot(spark), Some(table)).nonEmpty) {
        register(spark, table, loc, bucketKeys, buckets)
        "swap_recovered"
      } else if (hasDataFile(new java.io.File(loc))) {
        // a surviving location must hold at least one data file to
        // re-register from (schema recovery reads parquet footers) — a
        // dataless directory (a table seeded EMPTY, e.g. the stream-
        // owned postings_delta, or a crash before the first file)
        // holds no information: fall through and rebuild it
        register(spark, table, loc, bucketKeys, buckets)
        "reregistered"
      } else {
        write(spark, table, build, bucketKeys, buckets)
        "written"
      }
    }
  }

  /** Write a layout frame as a bucketed EXTERNAL parquet table (files
    * under the warehouse's graft_layouts/, metadata in the session
    * catalog). Sorted within buckets by the bucket keys so probe
    * scans are run-length friendly.
    *
    * The frame is repartitioned to the BUCKET HASH first
    * (HashPartitioning(keys, buckets) is bit-identical to the bucket
    * id function, so each task holds exactly one bucket): a bucketed
    * write otherwise emits one file per (task × bucket present) —
    * BuildProbe measured the graph prod build's write at ×30
    * amplification paying 36 s for 15,360 files (32 tasks × 480
    * buckets, exp_10_30 ≈ 2.3, the r13 verdict-#4 superlinear term)
    * where the aligned write pays one file per bucket. Write
    * parallelism = bucket count, which is the layout discipline
    * anyway: bucket counts scale with data volume (LayoutOps note),
    * so a 100 TB family brings its own parallelism.
    */
  def write(spark: SparkSession, table: String, df: DataFrame,
      bucketKeys: Seq[String], buckets: Int): Unit =
    df.repartition(buckets,
        bucketKeys.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite")
      .format("parquet")
      .option("path", location(spark, table))
      .bucketBy(buckets, bucketKeys.head, bucketKeys.tail: _*)
      .sortBy(bucketKeys.head, bucketKeys.tail: _*)
      .saveAsTable(table)

  /** Append rows to an EXISTING layout table as additional bucketed
    * files — the maintenance write a daily delta runs. Bucket ids
    * ride in the bucketed file names, so reads, co-keyed joins and
    * bucket pruning treat appended files exactly like the originals;
    * the write validates the bucket spec against the catalog entry,
    * so mismatched geometry fails loudly instead of corrupting the
    * layout. Columns are matched by NAME (saveAsTable append
    * semantics), so callers need not replicate the table's column
    * order. Appended files accumulate per batch — [[compact]] folds
    * them back to one file per bucket.
    */
  def append(spark: SparkSession, table: String, df: DataFrame,
      bucketKeys: Seq[String], buckets: Int): Unit = lockFor(table).synchronized {
    df.write.mode("append")
      .format("parquet")
      .bucketBy(buckets, bucketKeys.head, bucketKeys.tail: _*)
      .sortBy(bucketKeys.head, bucketKeys.tail: _*)
      .saveAsTable(table)
  }

  /** Append exactly once per (table, marker): if the marker file is
    * already present in the table location the append is skipped
    * (returns false). The check-append-mark sequence holds the store
    * lock, so concurrent callers (e.g. bench streams running the same
    * query) cannot double-append. The marker is an underscore file, so
    * parquet readers and schema inference ignore it, and it survives
    * catalog death alongside the data files.
    */
  def appendOnce(spark: SparkSession, table: String, marker: String,
      bucketKeys: Seq[String], buckets: Int)(df: => DataFrame): Boolean =
    lockFor(table).synchronized {
      val m = Paths.get(location(spark, table), s"_marker_$marker")
      if (Files.exists(m)) false
      else {
        append(spark, table, df, bucketKeys, buckets)
        Files.createFile(m)
        true
      }
    }

  /** True iff at least one data FILE lives under `d` (recursing into
    * subdirectories, markers/_SUCCESS/hidden names excluded at every
    * level) — the re-registration guard. Top-level-entry existence is
    * NOT enough: a partitioned table that crashed after creating its
    * `key=value` partition directories but before the first parquet
    * write presents non-underscore entries yet has nothing to infer a
    * schema from, and would fail re-registration exactly the way the
    * dataless-dir guard exists to prevent.
    */
  private def hasDataFile(d: java.io.File): Boolean = {
    val fs = d.listFiles()
    fs != null && fs.exists { f =>
      !f.getName.startsWith("_") && !f.getName.startsWith(".") &&
        (if (f.isDirectory) hasDataFile(f) else true)
    }
  }

  /** Number of data files in the table location (markers, _SUCCESS and
    * hidden files excluded) — the quantity compaction policy triggers
    * on.
    */
  def dataFileCount(spark: SparkSession, table: String): Int = {
    val fs = new java.io.File(location(spark, table)).listFiles()
    if (fs == null) 0
    else fs.count(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  /** Compact an appended layout table back to ONE file per non-empty
    * bucket: pre-partition by the bucketing hash into exactly
    * `buckets` partitions (repartition(n, key) and bucketBy(n, key)
    * share Spark's Murmur3-pmod hash, so each write task holds exactly
    * one bucket's rows), rewrite bucketed+sorted into a [[DirSwap]]
    * stage, swap the table directory and re-register the catalog
    * entry. Marker files carry over, so append-once history survives
    * compaction. This is the maintenance job that keeps per-probe file
    * counts bounded no matter how many deltas have been appended.
    *
    * Crash safety is the swap's: the replacement (data + markers) is
    * sealed before the original is touched. Death before the swap
    * leaves the original serving; death mid-swap leaves the sealed
    * stage or the original's `.X_old`, which the next compact or
    * [[ensure]] (`swap_recovered`) finishes or undoes. No window loses
    * appended rows — the guarantee stream-maintained layouts (whose
    * rows exist nowhere else) need.
    */
  def compact(spark: SparkSession, table: String, bucketKeys: Seq[String],
      buckets: Int): Unit = lockFor(table).synchronized {
    val loc = location(spark, table)
    val tmpTable = table + "_compact"
    DirSwap.replace(spark, layoutsRoot(spark), Some(table)) { stage =>
      val out = new Path(stage, table)
      spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
      // read the FILES, not the catalog table: the table's bucket
      // metadata makes the planner treat the repartition as redundant
      // (HashPartitioning(key, n) already "provided") and elide it —
      // then decline the bucketed scan anyway, leaving arbitrary
      // file-coalesced partitions and a file per (task, bucket). The
      // plain-parquet read carries no partitioning claim, so the
      // repartition survives and each write task holds exactly one
      // bucket.
      spark.read.parquet(loc)
        .repartition(buckets, bucketKeys.map(org.apache.spark.sql.functions.col): _*)
        .write.mode("overwrite").format("parquet")
        .option("path", out.toString)
        .bucketBy(buckets, bucketKeys.head, bucketKeys.tail: _*)
        .sortBy(bucketKeys.head, bucketKeys.tail: _*)
        .saveAsTable(tmpTable)
      spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
      // markers (empty files) ride over
      val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new Path(loc)).map(_.getPath.getName)
        .filter(_.startsWith("_marker_"))
        .foreach(m => fs.create(new Path(out, m), false).close())
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
    register(spark, table, loc, bucketKeys, buckets)
  }

  /** Drop ONLY the catalog entry (external table ⇒ files survive) —
    * exactly what a JVM exit does to the in-memory catalog. Specs use
    * this to exercise the restart path without forking a JVM.
    */
  def dropCatalogEntry(spark: SparkSession, table: String): Unit =
    lockFor(table).synchronized { spark.sql(s"DROP TABLE IF EXISTS $table") }

  /** Remove a layout completely: catalog entry AND files (test
    * hygiene; production would only ever do this to reclaim a
    * superseded geometry's tables).
    */
  def purge(spark: SparkSession, table: String): Unit = lockFor(table).synchronized {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new Path(location(spark, table))
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
  }

  /** Partitioned-table variants — for layouts whose probe key is a
    * coarse data-skipping cell (the Z-order prefix): one DIRECTORY
    * per key value, so a literal-key probe prunes at the file-listing
    * level (`PartitionFilters` in the scan) before any file is
    * opened — the pruning unit a 100 TB rectangle query needs, since
    * bucket pruning still lists every bucket file. Sorted within
    * partitions by the given key so row-group min-max envelopes stay
    * tight inside each cell too.
    */
  def ensurePartitioned(spark: SparkSession, table: String, partKey: String,
      sortKey: String)(build: => DataFrame): String = lockFor(table).synchronized {
    if (exists(spark, table)) "catalog"
    else {
      val loc = location(spark, table)
      // same dataless-directory guard as [[ensure]]: nothing to
      // recover a schema from → rebuild
      if (hasDataFile(new java.io.File(loc))) {
        // partition values are directory names: infer the full schema
        // (incl. the partition column), register, recover partitions
        val schema = spark.read.parquet(loc).schema.toDDL
        spark.sql(
          s"""CREATE TABLE $table ($schema)
             |USING PARQUET
             |PARTITIONED BY ($partKey)
             |LOCATION '$loc'""".stripMargin)
        spark.catalog.recoverPartitions(table)
        "reregistered"
      } else {
        // co-locate each cell in one task so every partition directory
        // gets ONE file (not one per upstream task)
        build.repartition(org.apache.spark.sql.functions.col(partKey))
          .sortWithinPartitions(sortKey)
          .write.mode("overwrite")
          .format("parquet")
          .option("path", loc)
          .partitionBy(partKey)
          .saveAsTable(table)
        "written"
      }
    }
  }

  /** Copy a table's files to a new table location (the clone a
    * mutating maintenance op works on, so the base layout and every
    * query against it stay untouched — the appended-clone pattern).
    * Returns false if the target files already exist (restart: the
    * mutated clone survived; the caller must NOT redo its mutation
    * blindly — though idempotent mutations may).
    */
  def cloneTable(spark: SparkSession, src: String, dst: String): Boolean = {
    // Lock BOTH tables, in lexicographic order (r16, ADVICE): under
    // per-table locks a dst-only lock let a clone read src's files
    // while another thread appended/compacted src (compact deletes +
    // renames the directory), copying a half-mutated state. Ordered
    // acquisition keeps clone atomic with src mutations without
    // deadlock risk.
    val (first, second) =
      if (src <= dst) (src, dst) else (dst, src)
    lockFor(first).synchronized { lockFor(second).synchronized {
      val from = Paths.get(location(spark, src))
      val to = Paths.get(location(spark, dst))
      if (Files.exists(to)) false
      else {
        val it = Files.walk(from)
        try it.forEach { p =>
          val q = to.resolve(from.relativize(p))
          if (Files.isDirectory(p)) Files.createDirectories(q)
          else Files.copy(p, q)
        } finally it.close()
        true
      }
    }}
  }

  /** Re-attach a catalog entry to surviving layout files: CREATE
    * TABLE over the location with the original bucket spec. The
    * schema is recovered from the parquet footers; bucket ids are
    * recovered per file from the bucketed file names, so the
    * re-registered table serves identically to the original.
    */
  private def register(spark: SparkSession, table: String, loc: String,
      bucketKeys: Seq[String], buckets: Int): Unit = {
    val schema = spark.read.parquet(loc).schema.toDDL
    val cluster = bucketKeys.mkString(", ")
    spark.sql(
      s"""CREATE TABLE $table ($schema)
         |USING PARQUET
         |CLUSTERED BY ($cluster) SORTED BY ($cluster) INTO $buckets BUCKETS
         |LOCATION '$loc'""".stripMargin)
  }
}
