package graft

import java.nio.file.Files

import graft.operators.LayoutOps
import graft.sources.{CompactionOps, UpsertSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Crash at every filesystem step of each directory-replacing write,
  * then replay the same call: the result must equal a clean run's.
  * [[FaultFs]] counts the mutating calls of one clean call, then for
  * each N kills the writer at step N (that call and every later one
  * fails) and replays without faults.
  */
class SwapCrashSpec extends GraftSpec {

  /** Rows per partition, as sorted strings. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(c => col(c).cast("string")): _*)
      .collect().toSeq.map(_.toString).sorted

  /** `prep(n)` readies a target for run `n` (0 = the clean run);
    * `call` is the write under test; `state` reads its result.
    */
  private def crashLoop[T](prep: Int => T)(call: T => Unit)(
      state: T => Seq[String]): Unit = {
    val clean = prep(0)
    val steps = FaultFs.bound(spark)(FaultFs.count(call(clean)))
    val want = state(clean)
    assert(steps > 0 && want.nonEmpty)
    info(s"$steps filesystem steps, each crashed and replayed")
    val bad = (1 to steps).flatMap { n =>
      val target = prep(n)
      val crashed = FaultFs.bound(spark)(FaultFs.crashAt(spark, n)(call(target)))
      call(target) // the replay
      val got = state(target)
      if (got == want) None
      else Some(s"step $n/$steps (crashed=$crashed): lost ${want.diff(got)}, " +
        s"extra ${got.diff(want)}")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("upsert: a crash at any step, then the replay, leaves one latest row per PK and every day") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_crash_upsert").toFile.getAbsolutePath
    def batch(rows: (String, Long, String, String, Long)*) =
      rows.toSeq.toDF("file_date", "file_time", "name", "content", "upload_time")
        .withColumn("folder", $"name").withColumn("pack", $"name")
    // day 1 already holds rows of an earlier batch; the batch under
    // test replaces one of them, adds one there and opens day 3
    val earlier = batch(("2017-06-01", 100L, "a", "v1", 10L),
      ("2017-06-01", 100L, "b", "v1", 10L), ("2017-06-02", 200L, "c", "v1", 10L))
    val delivery = batch(("2017-06-01", 100L, "a", "v2", 20L),
      ("2017-06-01", 300L, "d", "v1", 20L), ("2017-06-03", 400L, "e", "v1", 20L))
    crashLoop { n =>
      val dir = s"$root/t$n"
      UpsertSink.upsert(earlier, dir)
      dir
    } { dir => UpsertSink.upsert(delivery, dir) } { dir =>
      val t = spark.read.parquet(dir)
      assert(t.count() == t.select(UpsertSink.PrimaryKey.map(col): _*).distinct().count())
      rowsOf(t)
    }
  }

  test("partition compaction: a crash at any step, then the replay, keeps the same rows per partition") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_crash_compact").toFile.getAbsolutePath
    crashLoop { n =>
      val dir = s"$root/t$n"
      (1 to 40).map(i => ("2017-06-01", i.toLong, s"v$i")).toDF("file_date", "id", "payload")
        .repartition(6).write.partitionBy("file_date").parquet(dir)
      (41 to 50).map(i => ("2017-06-02", i.toLong, s"v$i")).toDF("file_date", "id", "payload")
        .coalesce(1).write.partitionBy("file_date").mode("append").parquet(dir)
      dir
    } { dir => CompactionOps.compact(spark, dir) } { dir =>
      val t = spark.read.parquet(dir)
      Seq("2017-06-01", "2017-06-02").flatMap(d =>
        rowsOf(t.filter(col("file_date") === d)).map(d + " " + _))
    }
  }

  test("layout compaction: a crash at any step, then the replay, serves the same rows") {
    val fam = "ivf_quantizer"
    try {
      LayoutOps.purgeAll(spark, Sf)
      crashLoop(_ => LayoutOps.ensure(spark, Sf, fam)) { _ =>
        LayoutOps.compactIfNeeded(spark, Sf, fam, maxFiles = 0); ()
      } { _ => rowsOf(LayoutOps.table(spark, Sf, fam)) }
    } finally LayoutOps.purgeAll(spark, Sf)
  }
}
