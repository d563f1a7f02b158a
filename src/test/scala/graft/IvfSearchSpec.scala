package graft

import scala.jdk.CollectionConverters._

import graft.functions.{IvfAssign, PqKernels, VecKernels, VectorFns}
import graft.operators.{AnnOps, LayoutOps}
import graft.operators.AnnOps.{IvfCodec, IvfPqServing, SessionIndex}
import graft.plans.TopK
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType,
  LongType, StructField, StructType}

/** The IVF search operator against the plan it replaced, row for row
  * with `sim` compared as raw bits: probe rows as a local frame (one
  * per probe, plain PQ tables copied into each), one broadcast
  * probe×list join scored in-row, then chained per-key top-k heaps on
  * q_id (ADC top-r, then sim top-k). Both read the same handle and call
  * the same kernels, so every row must be equal, over every session
  * index, the persisted PQ and residual-PQ handles, and the request
  * shapes that reach the heaps' edges.
  */
class IvfSearchSpec extends GraftSpec {

  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("q_label", IntegerType)))

  private lazy val queryRows: Seq[Row] = Tables.embeddings(spark, Sf)
    .filter(col("vec_id") % 25 === 3)
    .select(col("vec_id"), col("embedding"), col("label").as("q_label"))
    .collect().toSeq

  private def local(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The replaced plan: the probe-row frame of the driver-side query
    * side, broadcast-joined to the probed lists, then two chained
    * TopK.perKey for a shortlisting codec.
    */
  private def reference(sv: IvfPqServing, queries: DataFrame,
      nprobe: Int = AnnOps.IvfPqNprobe, r: Int = AnnOps.IvfPqR, k: Int = 10,
      excludeSelf: Boolean = false, candFilter: Column = lit(true)): DataFrame = {
    val extra = queries.schema.fields.toSeq
      .filterNot(f => f.name == "vec_id" || f.name == "embedding")
    val rows = queries.select(
      (Seq("vec_id", "embedding") ++ extra.map(_.name)).map(col): _*).collect()
    val model = sv.model.value
    val arr = ArrayType(DoubleType)
    val pq = sv.codec match { case p: IvfCodec.Pq => Some(p); case _ => None }
    def tables(x: Array[Double]): Seq[Any] = pq.toSeq.flatMap { p =>
      val xd = new GenericArrayData(x)
      (0 until p.nSub).map(s => PqKernels.distTable(xd, p.bookModel, s).array.toSeq)
    }
    val centroidRow = model.cids.zipWithIndex.toMap
    val probeRows = Seq.newBuilder[Row]
    val cids = scala.collection.mutable.SortedSet.empty[Long]
    rows.iterator.filterNot(_.isNullAt(1)).foreach { row =>
      val v = row.getSeq[Number](1).map(x => if (x == null) 0.0 else x.doubleValue).toArray
      val vd = new GenericArrayData(v)
      val n = math.sqrt(VecKernels.dot(vd, vd))
      val head = (row.get(0) +: (2 until row.length).map(row.get)) ++ Seq(v.toSeq, n)
      IvfAssign.topProbes(vd, n, model, nprobe).toLongArray().foreach { cid =>
        cids += cid
        val payload = if (pq.exists(_.residual)) {
          val cq = AnnOps.quantizedCentroid(model, centroidRow(cid))
          tables(Array.tabulate(v.length)(d => v(d) - cq(d)))
        } else tables(v)
        probeRows += Row.fromSeq((cid +: head) ++ payload)
      }
    }
    val fields = Seq(StructField("q_cid", LongType),
      StructField("q_id", queries.schema("vec_id").dataType)) ++ extra ++
      Seq(StructField("qv", arr), StructField("qn", DoubleType)) ++
      pq.toSeq.flatMap(p => (0 until p.nSub).map(s => StructField(s"dt$s", arr)))
    val probes = spark.createDataFrame(probeRows.result().asJava, StructType(fields))
    val joinCond =
      (if (excludeSelf) col("q_cid") === col("c_cid") && col("q_id") =!= col("c_id")
       else col("q_cid") === col("c_cid")) && candFilter
    val cand = sv.lists.filter(col("c_cid").isin(cids.toSeq: _*))
      .join(broadcast(probes), joinCond)
      .withColumn("sim", VectorFns.cosine(col("qv"), col("cv2"), col("qn"), col("cn")))
    def topBy(df: DataFrame, closer: Column, n: Int): DataFrame =
      TopK.perKey(df, Seq(col("q_id")), Seq(closer, col("c_id").asc), n)
    def reranked(adc: Column, closer: Column): DataFrame =
      topBy(topBy(cand.withColumn("adc", adc), closer, r)
        .select("q_id", "c_id", "sim"), col("sim").desc, k)
    val hits = sv.codec match {
      case IvfCodec.Flat => topBy(cand, col("sim").desc, k)
      case IvfCodec.Sq8(mn, delta) =>
        reranked(VectorFns.dot(col("qv"), AnnOps.sq8Dequant(col("codes"), mn, delta)),
          col("adc").desc)
      case p: IvfCodec.Pq => reranked(AnnOps.adcCol(p.nSub), col("adc").asc)
    }
    hits.select("q_id", "c_id", "sim", "rnk")
  }

  /** (q_id, c_id, sim bits, rnk), sorted. */
  private def bits(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3))).toSeq.sorted

  private def assertSame(what: String, sv: IvfPqServing, queries: DataFrame,
      nprobe: Int = AnnOps.IvfPqNprobe, r: Int = AnnOps.IvfPqR,
      excludeSelf: Boolean = false, candFilter: Column = lit(true)): Seq[(Long, Long, Long, Long)] = {
    val got = bits(AnnOps.ivfPqSearchTables(spark, Sf, sv, queries, nprobe, r,
      excludeSelf = excludeSelf, candFilter = candFilter))
    val want = bits(reference(sv, queries, nprobe, r, excludeSelf = excludeSelf,
      candFilter = candFilter))
    assert(got == want, s"$what: the operator's rows differ from the replaced plan's")
    got
  }

  private val Sessions = Seq(SessionIndex.Flat(), SessionIndex.FlatLabeled,
    SessionIndex.Sq8, SessionIndex.Pq, SessionIndex.PqRes())

  test("every session index returns the replaced plan's rows, sim bit for bit") {
    for (index <- Sessions) {
      val got = assertSame(index.toString, AnnOps.sessionServing(spark, Sf, index),
        local(queryRows))
      assert(got.length == queryRows.length * 10, index)
    }
  }

  test("the persisted PQ and residual-PQ handles return the replaced plan's rows") {
    try {
      for ((family, residual) <- Seq("ivfpq_lists" -> false, "ivfpq_res_lists" -> true)) {
        val sv = LayoutOps.familyServing(spark, Sf, family,
          LayoutOps.pqCodec(spark, Sf, residual))
        val got = assertSame(family, sv, local(queryRows))
        assert(got.length == queryRows.length * 10, family)
      }
    } finally LayoutOps.purgeAll(spark, Sf)
  }

  test("excludeSelf and a q_label/c_label candFilter match the replaced plan") {
    val labeled = AnnOps.sessionServing(spark, Sf, SessionIndex.FlatLabeled)
    val self = assertSame("excludeSelf", labeled, local(queryRows), excludeSelf = true)
    assert(!self.exists(h => h._1 == h._2), "a query was served itself")
    val filtered = assertSame("candFilter", labeled, local(queryRows),
      candFilter = col("q_label") =!= col("c_label"))
    assert(filtered.nonEmpty)
    for (index <- Seq(SessionIndex.Sq8, SessionIndex.PqRes()))
      assertSame(s"$index excludeSelf", AnnOps.sessionServing(spark, Sf, index),
        local(queryRows), excludeSelf = true)
  }

  test("null embeddings, duplicate ids and lists shorter than r match the replaced plan") {
    val withNull = queryRows :+ Row(999999L, null, 0)
    val dup = queryRows.take(3) ++ queryRows.take(2)
    for (index <- Sessions) {
      val sv = AnnOps.sessionServing(spark, Sf, index)
      assertSame(s"$index null", sv, local(withNull))
      val d = assertSame(s"$index duplicates", sv, local(dup))
      assert(d.count(_._1 == dup.head.getLong(0)) == 10, s"$index: one heap per q_id")
      // one probe, a shortlist deeper than any list: every probed row survives
      assertSame(s"$index short lists", sv, local(queryRows.take(4)), nprobe = 1, r = 5000)
    }
  }

  test("a count or a projection above the operator sees every row") {
    for (index <- Seq(SessionIndex.Flat(), SessionIndex.Sq8); self <- Seq(false, true)) {
      val sv = AnnOps.sessionServing(spark, Sf, index)
      val df = AnnOps.ivfPqSearchTables(spark, Sf, sv, local(queryRows), excludeSelf = self)
      val all = bits(df)
      assert(df.count() == all.length, s"$index excludeSelf=$self: count")
      assert(df.select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq.sorted == all.map(h => (h._1, h._2)), s"$index excludeSelf=$self: projection")
    }
  }
}
