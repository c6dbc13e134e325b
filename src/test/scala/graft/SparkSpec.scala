package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate dedupes across
  * suites in the forked test JVM). Same session config as Verify/Bench —
  * UTC + nanosAsLong is part of the library's documented contract. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // fresh warehouse per JVM: saveAsTable locations must not collide with
    // leftovers from previous runs
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def strings(vals: String*): DataFrame = {
    import spark.implicits._
    vals.toDF("value")
  }

  /** Count physical nodes whose name contains `token`, WITHOUT
    * rendering the plan to a string: `.executedPlan.toString` on the
    * crawl-chain plans materializes a multi-hundred-MB string (every
    * synthetic-fixture expression tree × every reference), and one
    * round-19 dual-plan test OOM'd the shared 8 GiB test heap that
    * way. Traversal touches only the node objects that already
    * exist. AQE wrappers are unwrapped to their initial plan (the
    * same tree toString would have printed). */
  def countPlanNodes(df: DataFrame, token: String): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
      case n => n +: (n.children ++ n.subqueries).flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).count(_.nodeName.contains(token))
  }

  def writeSpool(baseDir: String, topic: String, lines: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(baseDir, topic)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("part-0.txt"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
  }

  /** A spool base with one message per vehicle source topic plus one
    * malformed Geotab record: 3 valid CMF messages, 1 quarantined. */
  def vehicleSpoolDir(): String = {
    val base = java.nio.file.Files.createTempDirectory("spool").toString
    writeSpool(base, graft.sources.Sources.kinesisInput.outputTopic, Seq(
      """{"Device_ID":"g1","Vehicle_ID":"v1","Record_DateTime":"2023-10-26T10:00:00Z","Latitude":1.0,"Longitude":2.0}""",
      """{"Device_ID":"broken"""))
    writeSpool(base, graft.sources.Sources.kafkaInput.outputTopic, Seq(
      """{"unit_id":"c1","vid":"v2","msg_ts":1698314400,"gps_lat":3.0,"gps_lon":4.0}"""))
    writeSpool(base, graft.sources.Sources.httpInput.outputTopic, Seq(
      """{"vin":"v3","esn":"e3","captureTime":1698314400000,"coords":{"latValue":5.0,"lonValue":6.0,"ts":1698314395000}}"""))
    base
  }
}
