package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (Test / fork := true).
  *
  * Lake-format extensions are JAR-GATED: session extensions are fixed at
  * builder time, so when a delta-spark / iceberg-spark-runtime jar is dropped
  * into the classpath the shared session picks up its extension + catalog
  * automatically and the `assume`-guarded LakeFormatSpec round-trips run with
  * zero code change (today the jars are absent — BASELINE.md r7 jar-absence
  * record — and those specs skip cleanly). */
object SparkTestBase {
  val deltaPresent: Boolean =
    scala.util.Try(Class.forName("io.delta.sql.DeltaSparkSessionExtension")).isSuccess
  val icebergPresent: Boolean = scala.util.Try(
    Class.forName("org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")).isSuccess
  lazy val icebergWarehouse: String =
    java.nio.file.Files.createTempDirectory("graft-iceberg-wh").toString

  lazy val spark: SparkSession = {
    var b = GraftSession.builder(4)
      // local[threads, maxFailures]: allow ONE task retry so
      // FaultToleranceSpec can inject first-attempt failures and prove
      // retry-determinism; healthy tasks never retry, so call-count
      // replay specs are unaffected
      .master("local[4, 2]")
      .appName("graft-test")
    val exts = Seq(
      if (deltaPresent) Some("io.delta.sql.DeltaSparkSessionExtension") else None,
      if (icebergPresent)
        Some("org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
      else None).flatten
    if (exts.nonEmpty) b = b.config("spark.sql.extensions", exts.mkString(","))
    if (deltaPresent) b = b.config("spark.sql.catalog.spark_catalog",
      "org.apache.spark.sql.delta.catalog.DeltaCatalog")
    if (icebergPresent) b = b
      .config("spark.sql.catalog.graft_iceberg", "org.apache.iceberg.spark.SparkCatalog")
      .config("spark.sql.catalog.graft_iceberg.type", "hadoop")
      .config("spark.sql.catalog.graft_iceberg.warehouse", icebergWarehouse)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Flattened messages of a throwable's cause chain — specs assert on
    * error text that Spark wraps in several execution layers. */
  def causeMessages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ causeMessages(t.getCause)
}
