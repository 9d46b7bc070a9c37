package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Json

/** The engine ↔ AI-sidecar process boundary as a versioned on-disk data
  * contract instead of a network protocol.
  *
  * The reference runs its policy intelligence in a separate Python sidecar
  * behind gRPC with mTLS (reference: src/Pyrope.AISidecar/server.py:268-291;
  * consumer Services/PredictivePrefetcher.cs:235-264). The analytics that
  * cross that wire all exist here as Spark jobs ([[Policy]], [[Streams]]);
  * what the transport really defines is the CONTRACT — which fields flow
  * out (interval metrics), which flow back (policy decisions), and how
  * either side detects version skew. That contract is modeled directly:
  * a directory with a `CONTRACT.json` version stamp, per-window metrics
  * parquet flowing engine→sidecar, and per-window policy JSON flowing
  * sidecar→engine (JSON on the inbound side deliberately: the reference's
  * sidecar replies are JSON documents its Python side emits). The gRPC
  * framing and mTLS handshake themselves stay unmodeled — transport, not
  * semantics.
  *
  * Both sides validate on READ: a consumer refuses a directory whose
  * contract version it does not speak, and refuses frames missing required
  * fields — version skew fails loudly at the boundary, never as silent
  * column drift inside a downstream plan. Writers stamp the contract file
  * on first write. Scale shape: one parquet/JSON directory per decision
  * window, each a few rows per tenant — driver-light, executor-written,
  * and append-only like the reference's decision log.
  */
object SidecarContract {

  /** Contract version this module speaks. */
  val Version = 1

  /** Engine → sidecar: per-window interval metrics (the reference's
    * GetMetricsSnapshot payload, server.py:138-160). */
  val MetricsSchema: StructType = StructType(Seq(
    StructField("tenant", StringType, nullable = false),
    StructField("window", LongType, nullable = false),
    StructField("n_requests", LongType, nullable = false),
    StructField("n_misses", LongType, nullable = false)))

  /** Sidecar → engine: per-window policy decisions (the reference's
    * PolicyDecision reply, policy_engine.py:12-25 / server.py:186-201). */
  val PoliciesSchema: StructType = StructType(Seq(
    StructField("tenant", StringType, nullable = false),
    StructField("window", LongType, nullable = false),
    StructField("ttl_seconds", IntegerType, nullable = false),
    StructField("admission_threshold", DoubleType, nullable = false),
    StructField("eviction_priority", StringType, nullable = false)))

  private def contractPath(root: String) = s"$root/CONTRACT.json"

  /** Stamp (or verify) the contract file; first writer wins, later writers
    * and all readers must agree on the version. */
  def ensureContract(root: String): Unit = {
    Files.createDirectories(Paths.get(root))
    val p = Paths.get(contractPath(root))
    if (!Files.exists(p))
      Files.write(p, renderContract(Version,
        "metrics" -> MetricsSchema, "policies" -> PoliciesSchema).getBytes(UTF_8))
    else checkVersion(root)
  }

  /** `CONTRACT.json`: the version stamp, then each named schema as an
    * object of field name → type. */
  private[graft] def renderContract(version: Int,
                                    schemas: (String, StructType)*): String =
    (s"""{"version":$version""" +: schemas.map { case (name, s) =>
      Json.quote(name) + ":" + s.fields.map(f =>
        Json.quote(f.name) + ":" + Json.quote(f.dataType.simpleString))
        .mkString("{", ",", "}")
    }).mkString("", ",", "}")

  private[graft] def contractVersion(source: String, text: String): Int = {
    val o = Json.parse(s"unparseable CONTRACT.json at $source", text,
      new IllegalStateException(_))
    o.need("version")(o.int)
  }

  /** Parse the version stamp and fail loudly on skew. */
  def checkVersion(root: String): Unit = {
    val p = Paths.get(contractPath(root))
    require(Files.exists(p), s"no CONTRACT.json under $root — not a contract dir")
    val v = contractVersion(root, new String(Files.readAllBytes(p), UTF_8))
    require(v == Version,
      s"contract version skew: directory speaks v$v, this module speaks v$Version")
  }

  private def validate(df: DataFrame, schema: StructType, what: String): DataFrame = {
    val missing = schema.fields.filterNot(f => df.columns.contains(f.name))
    require(missing.isEmpty,
      s"$what frame missing contract fields: ${missing.map(_.name).mkString(", ")}")
    // project to the contract's columns and types — extra columns are the
    // writer's business and must not leak across the boundary
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** Engine side: publish one window's interval metrics. */
  def writeMetrics(metrics: DataFrame, root: String, window: Long): Unit = {
    ensureContract(root)
    validate(metrics.withColumn("window", lit(window)), MetricsSchema, "metrics")
      .write.mode("overwrite").parquet(s"$root/metrics/window=$window")
  }

  /** Sidecar side: consume a window's metrics (version-checked). */
  def readMetrics(spark: SparkSession, root: String, window: Long): DataFrame = {
    checkVersion(root)
    validate(spark.read.schema(MetricsSchema)
      .parquet(s"$root/metrics/window=$window"), MetricsSchema, "metrics")
  }

  /** Sidecar side: publish one window's policy decisions (JSON — the
    * reference sidecar's native reply encoding). */
  def writePolicies(policies: DataFrame, root: String, window: Long): Unit = {
    ensureContract(root)
    validate(policies.withColumn("window", lit(window)), PoliciesSchema, "policies")
      .write.mode("overwrite").json(s"$root/policies/window=$window")
  }

  /** Engine side: consume a window's policy decisions (version-checked;
    * the explicit read schema makes missing fields nulls, which the
    * validity filter below rejects rather than serving a partial policy). */
  def readPolicies(spark: SparkSession, root: String, window: Long): DataFrame = {
    checkVersion(root)
    val raw = spark.read.schema(PoliciesSchema)
      .json(s"$root/policies/window=$window")
    val complete = raw.na.drop(PoliciesSchema.fieldNames)
    validate(complete, PoliciesSchema, "policies")
  }
}
