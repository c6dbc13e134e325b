package ingestbench

import java.nio.file.{Files, Path}

import graft.route.Filterer
import graft.sources.{SpoolDataSource, SpoolMicroBatchStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** Layer probes of the traced run: each calls one public entry point of a
  * layer over a fixed input, outside the streaming topology, so that
  * layer's cost is measured alone. */
object Probes {
  private def seconds[A](body: => A): Double = {
    val t0 = System.nanoTime(); body; Util.secondsSince(t0)
  }
  /** Median of `reps` timed calls after one untimed warm call. */
  private def bestOf(reps: Int)(body: => Unit): Double = {
    body
    Util.median((1 to reps).map(_ => seconds(body)))
  }

  private def cached(spark: SparkSession, values: Seq[String], cores: Int): DataFrame = {
    import spark.implicits._
    val df = values.toDF("value").repartition(cores).cache()
    df.count()
    df
  }

  /** Records/s of each `VehicleTranslators` call (valid and quarantine both
    * materialized) over a cached input, plus the share of valid records. */
  def translate(spark: SparkSession, input: VehicleInput, n: Int,
                cores: Int): Map[String, Double] = {
    val names = Seq("geotab", "calamp", "ford")
    var valid = 0L; var total = 0L
    val rps = Vehicle.bindings.zipWithIndex.map { case (b, s) =>
      val df = cached(spark, input.values(s).take(n).toSeq, cores)
      val t = b.translate(df, "acme")
      val sec = bestOf(3) {
        t.valid.queryExecution.toRdd.count(); t.quarantine.queryExecution.toRdd.count()
      }
      val rows = df.count()
      valid += t.valid.count(); total += rows
      df.unpersist()
      s"translate.${names(s)}.rps" -> rows / sec
    }
    rps.toMap + ("translate.valid_share" -> valid.toDouble / math.max(1L, total))
  }

  /** `Filterer.route` over a cached CMF frame: records/s with routed and
    * dropped both materialized, and the shape of the routing. */
  def route(spark: SparkSession, cmf: Seq[String], cores: Int): Map[String, Double] = {
    val df = cached(spark, cmf, cores)
    val r = Filterer.route(df)
    val sec = bestOf(3) {
      r.routed.queryExecution.toRdd.count(); r.dropped.queryExecution.toRdd.count()
    }
    val perTenant = r.routed.groupBy("tenantId").count().collect().map(_.getLong(1))
    val routed = perTenant.sum
    df.unpersist()
    Map("route.rps" -> cmf.size / sec,
      "route.routed_share" -> routed.toDouble / math.max(1, cmf.size),
      "route.tenants" -> perTenant.length.toDouble,
      "route.max_tenant_share" ->
        (if (routed == 0) 0.0 else perTenant.max.toDouble / routed))
  }

  /** Per-trigger listing cost against a spool that already holds `n`
    * committed files: `SpoolMicroBatchStream.latestOffset()` lists the whole
    * directory, and the sink commit lists each topic directory it writes.
    * Returns ms for latestOffset and for one small `Filterer.fanOutTopics`
    * batch. */
  def spoolGrowth(spark: SparkSession, dir: Path, n: Int): (Double, Double) = {
    import spark.implicits._
    val spool = dir.resolve("spool")
    Files.createDirectories(spool)
    val payload = "x\n".getBytes("UTF-8")
    (0 until n).foreach(i => Files.write(spool.resolve(Spool.name(i)), payload))
    val stream = new SpoolMicroBatchStream(spool.toString,
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val offsetMs = bestOf(5)(stream.latestOffset()) * 1000

    val bus = dir.resolve("bus")
    val topic = Tenant.topicOf("probe")
    val topicDir = bus.resolve(SpoolDataSource.topicDir(topic))
    Files.createDirectories(topicDir)
    (0 until n).foreach(i => Files.write(topicDir.resolve(f"part-$i%08d-00000000"), payload))
    val batch = (0 until 8).map(i =>
      s"""{"meta":{"tenantId":"probe"},"vehicleId":"veh-$i"}""").toDF("value").coalesce(1)
    val routed = Filterer.route(batch).routed
    val commitMs = bestOf(3)(Filterer.fanOutTopics(routed, bus.toString)) * 1000
    (offsetMs, commitMs)
  }
}
