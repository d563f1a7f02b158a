package graft

import scala.jdk.CollectionConverters._

import graft.operators.AnnOps
import graft.operators.AnnOps.SessionIndex
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType,
  StructField, StructType}

/** The IVF search's query-frame contract over every codec's session
  * handle: what the search returns depends on the query rows, not on
  * how the query frame was produced; extra query columns reach the
  * candidate filter; empty and null-embedding requests are served.
  */
class IvfQueryFrameSpec extends GraftSpec {

  private val Encodings = Seq(SessionIndex.Flat(), SessionIndex.Sq8,
    SessionIndex.Pq, SessionIndex.PqRes())

  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("q_label", IntegerType)))

  private lazy val queryRows: Seq[Row] = Tables.embeddings(spark, Sf)
    .filter(col("vec_id") % 25 === 3)
    .select(col("vec_id"), col("embedding"), col("label").as("q_label"))
    .collect().toSeq

  private def local(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** (q_id, c_id, sim bits, rnk), sorted: the search promises no row
    * order.
    */
  private def hits(encoding: SessionIndex, queries: DataFrame,
      candFilter: Column = lit(true)): Seq[(Long, Long, Long, Long)] =
    AnnOps.ivfPqSearchTables(spark, Sf, AnnOps.sessionServing(spark, Sf, encoding),
        queries, candFilter = candFilter).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
      .toSeq.sorted

  test("a local query frame and its parquet copy return the same rows and sim bits") {
    val d = java.nio.file.Files.createTempDirectory("ivf_query_frame")
      .toFile.getAbsolutePath
    local(queryRows).write.mode("overwrite").parquet(d)
    for (encoding <- Encodings) {
      val fromLocal = hits(encoding, local(queryRows))
      assert(fromLocal.length == queryRows.length * 10, encoding)
      assert(hits(encoding, spark.read.parquet(d)) == fromLocal, encoding)
    }
  }

  test("an extra query column (q_label) reaches candFilter") {
    // mute the queries that share the first query's label: exactly
    // their hits go, every other query keeps its own
    val muted = queryRows.head.getInt(2)
    val mutedIds = queryRows.filter(_.getInt(2) == muted).map(_.getLong(0)).toSet
    assert(mutedIds.size < queryRows.size, "degenerate fixture: one label")
    for (encoding <- Encodings) {
      val all = hits(encoding, local(queryRows))
      assert(hits(encoding, local(queryRows), col("q_label") =!= lit(muted)) ==
        all.filterNot(h => mutedIds(h._1)), encoding)
    }
  }

  test("an empty request returns no rows") {
    for (encoding <- Encodings)
      assert(hits(encoding, local(Seq.empty)).isEmpty, encoding)
  }

  test("a null-embedding query row gets no hits while the other rows are served") {
    val nullId = 999999L
    for (encoding <- Encodings) {
      val served = hits(encoding, local(queryRows :+ Row(nullId, null, 0)))
      assert(!served.exists(_._1 == nullId), encoding)
      assert(served == hits(encoding, local(queryRows)), encoding)
    }
  }
}
