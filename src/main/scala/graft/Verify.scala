package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bounded ~1KB top-k buffers: keep hash aggregation past 128 keys
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Schema echo: if the driver regenerates testdata with different types
    // (as with events.ts int64-nanos → timestamp[us]), the round log shows
    // it immediately instead of leaving 6 opaque query errors to bisect.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
      try {
        val raw = spark.read.parquet(s"$sfDir/$t.parquet").schema
        System.err.println(s"[verify] schema $t: ${raw.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")}")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] schema $t: unreadable (${e.getMessage})")
      }
    }
    // Local-iteration narrowing (mirrors Bench's SPARK_GRAFT_ONLY); the
    // driver never sets it, so driver runs always dump every query.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(name.contains) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // quoted: a quote, backslash or control char (tab, CR) in the SQL
    // would otherwise make the file unreadable as JSON
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
