package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One judged query: a Spark program plus (where SQL-expressible) the
  * equivalent DuckDB oracle SQL the driver cross-checks against.
  */
final case class NamedQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDsl {
  /** Exact double sum: sum in decimal (exact, order-independent), then one
    * correctly-rounded cast to double. Spark and DuckDB produce bit-identical
    * results, which plain double sums (fp-addition order) do not. Magnitudes
    * here stay far below decimal(18,4)'s 10^14 capacity; at 100 TB the same
    * pattern holds with decimal(38,6).
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Oracle-side twin of [[dsum]]. */
  def dsumSql(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,4))) AS DOUBLE)"

  /** Deterministic 2-decimal rounding via explicit IEEE arithmetic — both
    * engines evaluate floor(x*100 + 0.5)/100 identically, sidestepping any
    * difference in native round() implementations.
    */
  def r2(c: Column): Column = floor(c * lit(100.0) + lit(0.5)) / lit(100.0)
  def r2Sql(expr: String): String = s"FLOOR(($expr) * 100.0 + 0.5) / 100.0"

  def r1(c: Column): Column = floor(c * lit(10.0) + lit(0.5)) / lit(10.0)
  def r1Sql(expr: String): String = s"FLOOR(($expr) * 10.0 + 0.5) / 10.0"

  /** numpy.round twins (half-even on the scaled double, divide back) for
    * the gates that mirror the reference's numpy rounding (A17/A18);
    * DuckDB round_even reproduces rint bit-for-bit at integer scale.
    */
  def r2e(c: Column): Column = bround(c * lit(100.0), 0) / lit(100.0)
  def r2eSql(expr: String): String = s"round_even(($expr) * 100.0, 0) / 100.0"
  def r1e(c: Column): Column = bround(c * lit(10.0), 0) / lit(10.0)
  def r1eSql(expr: String): String = s"round_even(($expr) * 10.0, 0) / 10.0"

  /** round to 6 decimals, identically in both engines. */
  def r6(c: Column): Column = floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
  def r6Sql(e: String): String = s"FLOOR(($e) * 1000000.0 + 0.5) / 1000000.0"

  /** Cross-engine content hash id: first 15 hex chars of md5 (60 bits)
    * parsed base-16, reduced mod `m`. md5 hex is identical in Spark and
    * DuckDB, so both engines assign every value the same id with a narrow
    * map — the scale-correct replacement for a global dense_rank (one task
    * sorting the whole vocabulary). Collisions under mod-m only perturb
    * downstream hash families, identically in both engines.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
  def hash60Sql(e: String): String =
    s"CAST('0x' || substring(md5($e), 1, 15) AS BIGINT)"

  def hashId(c: Column, m: Long): Column = hash60(c) % m
  def hashIdSql(e: String, m: Long): String = s"${hash60Sql(e)} % $m"

  /** Scale-adaptive scan fan-out (optimization guide §2.5 "input skew:
    * one huge unsplittable file" / §2.6 idle capacity). The judged
    * fixtures are ONE parquet file with ONE row group per table, so a
    * scan plans exactly one task and everything narrow above it — the
    * tokenize/explode/partial-aggregate map side of the text chains,
    * the micro-unit vector math of the embedding chains, the BPE merge
    * scans — runs serially until the first exchange (measured r21:
    * text/vector gates at cpu/wall 1.0–2.3 on 32 cores). A round-robin
    * repartition to the session default parallelism fans that work out.
    *
    * Scale posture: the repartition fires ONLY when the scan's own
    * parallelism is materially below the session's (`parts * 2 <=
    * defaultParallelism`). At production scale the split count dwarfs
    * the core count, the guard fails, and the plan is untouched — the
    * extra exchange is never paid at 100 TB; locally it moves the tiny
    * fixture once (~0.5 MB) and buys back a 32× idle map side.
    * Determinism: round-robin repartition local-sorts its input first
    * (SPARK-23207, on by default), so row-to-partition assignment is
    * reproducible under task retry; every judged aggregate downstream
    * is partitioning-independent (integer/decimal lattices — the oracle
    * hash re-check after this change is the proof).
    */
  def fanout(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions * 2 > target) df else df.repartition(target)
    }

  /** Streaming twin of [[fanout]] (r22): fans a bounded file-stream's
    * narrow map side out over the idle cores. A streaming scan of the
    * one-file fixtures plans ONE task per micro-batch, so the per-record
    * map work (token md5s for the count-min cells, signature hashing)
    * serializes exactly like the batch case — but a streaming Dataset
    * cannot probe its own split count (`df.rdd` is illegal pre-start),
    * so the guard probes `batchProbe`, a BATCH read of the same source
    * path, whose file-split planning is identical. Same scale posture as
    * [[fanout]]: at production split counts the guard fails and the plan
    * is untouched; the repartition is stateless, so watermarks, state
    * sharding and output semantics are unchanged (the oracle hash
    * re-check is the proof).
    */
  def fanoutStream(df: DataFrame, batchProbe: DataFrame): DataFrame =
    if (!df.isStreaming) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (batchProbe.rdd.getNumPartitions * 2 > target) df else df.repartition(target)
    }

  /** A committed gate fixture's directory, `src/test/resources/<dir>`.
    * Resolution order: system property `property` (testable in-JVM) →
    * env var `env` → the fixture on the classpath (any checkout's test
    * run finds its own copy under target/test-classes; only file: URLs
    * qualify — parquet cannot be read out of a jar entry) → the checkout
    * path under the working directory, which the out-of-JVM DuckDB
    * oracle run of a main started at the repo root reads.
    */
  def fixtureDir(dir: String, property: String, env: String): String =
    sys.props.get(property)
      .orElse(sys.env.get(env))
      .orElse(Option(getClass.getResource(s"/$dir"))
        .filter(_.getProtocol == "file")
        .map(u => java.nio.file.Paths.get(u.toURI).toString))
      .getOrElse(java.nio.file.Paths.get("src/test/resources", dir).toAbsolutePath.toString)

  /** THE repo-wide boolean-knob parse, one definition (round 12 — it had
    * grown copies): "1"/"true" (any case) enable; anything else,
    * including garbage, disables rather than throwing inside a gate.
    * Used for opt-in session confs and env flags
    * (spark.graft.reliableCheckpoint, spark.graft.strictSchema,
    * SPARK_GRAFT_RELIABLE_CHECKPOINT, …).
    */
  def boolFlag(v: String): Boolean = v.equalsIgnoreCase("true") || v == "1"
}
