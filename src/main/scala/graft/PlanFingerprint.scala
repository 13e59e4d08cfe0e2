package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stable fingerprint of a gate's physical plan — the mechanical "did the
  * plan drift?" signal. bench_details.json records one per gate next to
  * {cold, warm}, so a round-over-round timing delta with an UNCHANGED
  * fingerprint is measurement noise by construction, while a changed
  * fingerprint flags plan drift without anyone reading plan diffs; and
  * PlanFingerprintSpec pins the fingerprints at the fixture scale against
  * a committed snapshot, so accidental plan drift fails `sbt test` before
  * it ever reaches a bench.
  *
  * Normalization strips everything that legitimately varies run-to-run —
  * expression/exchange ids, file paths and locations, statistics, the
  * streaming gate's per-invocation sink name — leaving operator structure,
  * join strategies, pushed filters, and read schemas: exactly the things a
  * plan review checks.
  */
object PlanFingerprint {

  def of(df: DataFrame): String = digest(planString(df))

  /** MD5 of the normalized rendering of one or more plans. */
  private[graft] def digest(plan: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(normalize(plan)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** Renders the executed plan with string truncation effectively off.
    * Spark truncates scan metadata (`DataFilters: [... `) at
    * `spark.sql.maxMetadataStringLength` BEFORE [[normalize]] rewrites
    * expression ids to `#x` — so two identical plans whose global id
    * counters happen to differ in digit count truncate at different
    * characters and fingerprint differently. Render untruncated (confs
    * restored after), normalize, and the string is id-width-independent.
    */
  private[graft] def planString(df: DataFrame): String =
    untruncated(df.sparkSession)(df.queryExecution.executedPlan.toString)

  /** Runs `render` with the session's plan-string truncation off. */
  private[graft] def untruncated(spark: SparkSession)(render: => String): String = {
    val conf = spark.conf
    val metaKey = "spark.sql.maxMetadataStringLength"
    val fieldsKey = "spark.sql.debug.maxToStringFields"
    val (oldMeta, oldFields) = (conf.get(metaKey), conf.get(fieldsKey))
    conf.set(metaKey, "100000")
    conf.set(fieldsKey, "10000")
    try render
    finally { conf.set(metaKey, oldMeta); conf.set(fieldsKey, oldFields) }
  }

  private[graft] def normalize(plan: String): String =
    plan
      // AQE runtime artifacts (round-9 judge finding: the two joins gates
      // fingerprinted differently on every run of identical code). Query
      // stage numbers are assigned in stage SUBMISSION order and
      // whole-stage-codegen span ids in final-plan numbering order — both
      // vary run-to-run with parallel stage materialization, neither is
      // plan structure (the spans' extent stays visible through where the
      // `*(n)` markers sit in the tree; only the numbering is erased).
      .replaceAll("\\*\\(\\d+\\)", "*(n)")
      .replaceAll("(Shuffle|Broadcast|TableCache)QueryStage \\d+", "$1QueryStage n")
      .replaceAll("#\\d+L?", "#x") // expression ids
      .replaceAll("lambda ([xyz])_\\d+", "lambda $1_") // global lambda-var counter
      .replaceAll("\\[(plan_)?id=#?\\d+\\]", "[id=x]") // exchange/plan ids
      .replaceAll("\\$\\$Lambda\\$?[\\d/]*0x[0-9a-f]+(@[0-9a-f]+)?", "\\$\\$Lambda\\$x")
      .replaceAll("@[0-9a-f]{6,}", "@x") // JVM identity hashes
      .replaceAll("Location: [^\\n]*", "Location: <loc>")
      .replaceAll("file:[^,\\]\\s)]+", "<path>")
      .replaceAll("/tmp/[^,\\]\\s)]+", "<tmp>")
      // per-invocation memory-sink names of the streaming gates: the
      // counter suffix must not make an unchanged plan fingerprint read
      // as drifted. Anchored to the known gate prefixes — a bare
      // `_sink_\d+` would also collapse DISTINCT stable relations that
      // merely end in that pattern, masking real drift
      .replaceAll(
        "(dedup_stream_near|analyzer_trend_stream|sessionize_stream)_sink_\\d+",
        "$1_sink_<n>")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(<s>)")
      .replaceAll("size=\\d+", "size=<n>")
      .replaceAll("rows=\\d+", "rows=<n>")
}
