package ingestbench

import java.math.MathContext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The batch half of the benchmark: one query per `graft.ops` module, each
  * the module's most expensive `SparkEntry.queries` entry in BASELINE.md's
  * local[4] per-query table. `warc_curate_e2e` is the most expensive entry
  * of five modules (Extract, Gopher, Links, TextAnalysis, Url), so the 19
  * modules give 15 queries, about 44 s per pass at sf0.1. */
object Curation {
  val queries: Seq[(String, String)] = Seq(
    "q_sketch_rollup" -> "Analytics",
    "lid_classifier" -> "Classifier",
    "dedup_clusters_star" -> "Dedup",
    "warc_curate_e2e" -> "Extract,Gopher,Links,TextAnalysis,Url",
    "frontier_authority_rank" -> "Graph",
    "snm_editdist" -> "Joins",
    "q_global_seq" -> "Layout",
    "image_phash_neardup" -> "Multimodal",
    "seq_pack" -> "Packing",
    "q_salted_join" -> "Partitioning",
    "profile_table" -> "Profile",
    "hybrid_rrf_indexed" -> "Retrieval",
    "dsir_sample" -> "Sampling",
    "knn_ivf_pq_recall" -> "Similarity",
    "sessionize" -> "Windows")

  val tables = Seq("documents", "embeddings", "lineitem", "orders", "customer",
    "nation", "region", "part", "supplier")

  def build(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dir)

  /** The corpus caches `graft.Bench` materializes before timing. */
  def materialize(spark: SparkSession, dir: String): Unit = {
    graft.gen.RawGen.events(spark, dir).count()
    tables.foreach(t => graft.gen.RawGen.table(spark, dir, t).count())
  }

  /** Executes `df` the way `graft.Bench` times it (`queryExecution.toRdd`,
    * so no projection is pruned) and folds every output row into a row count
    * and an order-independent checksum: the sum of each row's digest, with
    * floating-point values rounded to six significant digits as the oracle
    * comparison rounds them. */
  def execute(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var h = 0L
      val sb = new java.lang.StringBuilder
      it.foreach { r =>
        sb.setLength(0)
        RowDigest.row(r, schema, sb)
        n += 1; h += Draw.digest(sb.toString)
      }
      Iterator((n, h))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** Releases cache blocks a query persisted (the `graft.Bench` leak fence),
    * so one query's leftovers do not occupy memory during the next. */
  def withFence[A](spark: SparkSession)(body: => A): A = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally {
      val now = spark.sparkContext.getPersistentRDDs
      (now.keySet.toSet -- before).foreach(id => now.get(id).foreach(_.unpersist(blocking = false)))
    }
  }
}

/** Canonical text of an internal row for the output checksum. */
object RowDigest {
  private val six = new MathContext(6)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(six).stripTrailingZeros.toString

  def row(r: InternalRow, st: StructType, sb: java.lang.StringBuilder): Unit = {
    sb.append('{')
    st.fields.indices.foreach { i =>
      if (i > 0) sb.append(',')
      value(if (r.isNullAt(i)) null else r.get(i, st.fields(i).dataType),
        st.fields(i).dataType, sb)
    }
    sb.append('}')
  }

  def value(v: Any, dt: DataType, sb: java.lang.StringBuilder): Unit = (v, dt) match {
    case (null, _) => sb.append("NULL")
    case (d: Double, _) => sb.append(num(d))
    case (f: Float, _) => sb.append(num(f.toDouble))
    case (s: UTF8String, _) => sb.append(s.toString)
    case (b: Array[Byte], _) => b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    case (r: InternalRow, st: StructType) => row(r, st, sb)
    case (a: ArrayData, ArrayType(et, _)) =>
      sb.append('[')
      (0 until a.numElements()).foreach { i =>
        if (i > 0) sb.append(',')
        value(if (a.isNullAt(i)) null else a.get(i, et), et, sb)
      }
      sb.append(']')
    case (m: MapData, MapType(kt, vt, _)) =>
      val entries = (0 until m.numElements()).map { i =>
        val e = new java.lang.StringBuilder
        value(m.keyArray().get(i, kt), kt, e); e.append(':')
        value(if (m.valueArray().isNullAt(i)) null else m.valueArray().get(i, vt), vt, e)
        e.toString
      }.sorted
      sb.append(entries.mkString("<", ",", ">"))
    case (x, _) => sb.append(x.toString)
  }
}
