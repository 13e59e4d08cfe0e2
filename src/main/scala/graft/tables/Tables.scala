package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import com.fasterxml.jackson.core.io.JsonStringEncoder

/** Loaders for the driver star schema (`TESTDATA.md`, `FIXTURES.md` §2).
  *
  * Each table is one parquet file; at 100 TB these would be partitioned
  * directories — the loaders take a dir so the same code serves both. All
  * downstream queries select only the columns they need, so parquet column
  * pruning keeps scans minimal regardless of table width.
  */
object Tables {

  /** Declarative schema contract, one row per table column as
    * `(name, DDL type)` in expected order (round 12). Events' `ts` and
    * embeddings' `embedding` carry `"*"`: those two columns have judged
    * drift-canonicalizers ([[normalizeEventTs]], [[embeddings]]) that
    * branch on the loaded type and fail loud on their own — the contract
    * here covers everything the canonicalizers don't, so a regen that
    * e.g. widens a key or drops a column is diagnosed in one line at
    * load instead of as a mid-query analysis error N operators deep.
    */
  private[graft] val Expected: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "INT", "r_name" -> "STRING"),
    "nation" -> Seq("n_nationkey" -> "INT", "n_name" -> "STRING",
      "n_regionkey" -> "INT"),
    "customer" -> Seq("c_custkey" -> "BIGINT", "c_name" -> "STRING",
      "c_nationkey" -> "INT", "c_acctbal" -> "DOUBLE", "c_mktsegment" -> "STRING"),
    "supplier" -> Seq("s_suppkey" -> "BIGINT", "s_name" -> "STRING",
      "s_nationkey" -> "INT", "s_acctbal" -> "DOUBLE"),
    "part" -> Seq("p_partkey" -> "BIGINT", "p_name" -> "STRING",
      "p_brand" -> "STRING", "p_type" -> "STRING", "p_size" -> "INT",
      "p_retailprice" -> "DOUBLE"),
    "orders" -> Seq("o_orderkey" -> "BIGINT", "o_custkey" -> "BIGINT",
      "o_orderstatus" -> "STRING", "o_totalprice" -> "DOUBLE",
      "o_orderdate" -> "TIMESTAMP_NTZ", "o_orderpriority" -> "STRING"),
    "lineitem" -> Seq("l_orderkey" -> "BIGINT", "l_partkey" -> "BIGINT",
      "l_suppkey" -> "BIGINT", "l_linenumber" -> "INT", "l_quantity" -> "DOUBLE",
      "l_extendedprice" -> "DOUBLE", "l_discount" -> "DOUBLE", "l_tax" -> "DOUBLE",
      "l_returnflag" -> "STRING", "l_linestatus" -> "STRING",
      "l_shipdate" -> "TIMESTAMP_NTZ"),
    "events" -> Seq("event_id" -> "BIGINT", "ts" -> "*", "user_id" -> "BIGINT",
      "event_type" -> "STRING", "value" -> "DOUBLE", "props" -> "STRING"),
    "documents" -> Seq("doc_id" -> "BIGINT", "text" -> "STRING",
      "lang" -> "STRING", "source" -> "STRING", "n_chars" -> "BIGINT"),
    "embeddings" -> Seq("vec_id" -> "BIGINT", "embedding" -> "*",
      "label" -> "INT"))

  /** Column-level diff of a loaded schema against [[Expected]]. A
    * MISSING column is fatal (every query touching it would die with a
    * worse error anyway); a retype, extra column, or reorder is
    * tolerable drift — warned once per path, failed under
    * `spark.graft.strictSchema` — because by-name column access keeps
    * such tables readable even when oracle parity may shift.
    */
  private[graft] final case class SchemaDrift(
      missing: Seq[String], retyped: Seq[String], extra: Seq[String],
      reordered: Boolean) {
    def isEmpty: Boolean =
      missing.isEmpty && retyped.isEmpty && extra.isEmpty && !reordered
    def fatal: Boolean = missing.nonEmpty
    /** Prefix-free diagnosis body, e.g.
      * `schema drift vs contract — missing=[c_acctbal DOUBLE] retyped=[c_custkey BIGINT->INT]`.
      */
    def summary: String = {
      def part(label: String, xs: Seq[String]): Option[String] =
        if (xs.isEmpty) None else Some(s"$label=[${xs.mkString(", ")}]")
      val parts = part("missing", missing) ++ part("retyped", retyped) ++
        part("extra", extra) ++ (if (reordered) Some("reordered") else None)
      s"schema drift vs contract — ${parts.mkString(" ")}"
    }

    /** The one-line diagnosis with its table/path prefix. */
    def message(table: String): String = s"$table: $summary"
  }

  private[graft] def drift(name: String,
      loaded: org.apache.spark.sql.types.StructType): Option[SchemaDrift] =
    Expected.get(name).flatMap(driftAgainst(_, loaded))

  /** The column-level diff itself, against an arbitrary expected column
    * list — split from [[drift]] (round 14) so relations outside the
    * star schema (the workload-summary contract in
    * [[graft.ingest.WorkloadViews]]) reuse the same diff/diagnosis
    * machinery instead of growing a second drift dialect.
    */
  private[graft] def driftAgainst(exp: Seq[(String, String)],
      loaded: org.apache.spark.sql.types.StructType): Option[SchemaDrift] = {
    val loadedTypes = loaded.fields.map(f => f.name -> f.dataType.sql).toMap
    val expNames = exp.map(_._1).toSet
    val missing = exp.collect { case (n, t) if !loadedTypes.contains(n) => s"$n $t" }
    val retyped = exp.collect {
      case (n, t) if t != "*" && loadedTypes.get(n).exists(_ != t) =>
        s"$n $t->${loadedTypes(n)}"
    }
    val extra = loaded.fields.collect {
      case f if !expNames.contains(f.name) => s"${f.name} ${f.dataType.sql}"
    }.toSeq
    val presentExpected = exp.map(_._1).filter(loadedTypes.contains)
    val loadedOrder = loaded.fields.map(_.name).filter(expNames.contains).toSeq
    Some(SchemaDrift(missing, retyped, extra,
      reordered = presentExpected != loadedOrder)).filter(!_.isEmpty)
  }

  /** Strict mode: any contract drift fails the load, not just missing
    * columns — for deployments where silent retype/reorder drift must
    * block the pipeline rather than warn.
    */
  private[graft] def strictSchema(s: SparkSession): Boolean = {
    import graft.queries.QueryDsl.boolFlag
    s.conf.getOption("spark.graft.strictSchema").exists(boolFlag) ||
      sys.env.get("SPARK_GRAFT_STRICT_SCHEMA").exists(boolFlag)
  }

  /** Once-per-path warn registry: loaders run per gate per bench pass;
    * the diagnosis must not scroll the artifact away.
    */
  private val warnedPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def checkContract(s: SparkSession, dir: String, name: String,
      schema: org.apache.spark.sql.types.StructType): Unit =
    drift(name, schema).foreach { dft =>
      val msg = dft.message(s"$dir/$name.parquet")
      if (dft.fatal || strictSchema(s))
        throw new IllegalArgumentException(msg)
      else if (warnedPaths.add(s"$dir/$name"))
        System.err.println(s"[tables] WARNING: $msg")
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    checkContract(spark, dir, name, df.schema)
    df
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  /** `events.ts` has shipped in two parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4 only reads as a raw long
    * via `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP(MICROS),
    * with or without isAdjustedToUTC (TimestampType vs TimestampNTZType).
    * Schema drift at the ingest edge is exactly the failure class the
    * reference hardens against (analyzer.py coalesces missing stats keys);
    * [[normalizeEventTs]] is the Spark-side equivalent: branch on the type
    * that actually loaded and emit one canonical pair —
    *   - `ts`    TimestampType, micros precision (NTZ is cast under the
    *     pinned UTC session timezone, so the instant is unchanged), and
    *   - `ts_ns` LongType epoch-nanos (exact nanos when the source had
    *     them; micros×1000 otherwise — downstream `ts_ns div 1000` is the
    *     oracle's micros grain either way).
    * Integer `div`, not `/`: epoch-nanos overflow double precision.
    */
  /** `spark.sql.legacy.parquet.nanosAsLong` must be true BEFORE the
    * events parquet footer is read, or a TIMESTAMP(NANOS) file fails to
    * load at all. The repo's own session builders (Bench / Verify /
    * Pipeline / SparkSpec) set it at build time; this guard covers
    * foreign sessions (library embedding) and — unlike the round-11
    * shape, which re-set the conf unconditionally on every load — only
    * ever writes when the value is absent or wrong, so an embedding
    * that deliberately configured its session is never silently
    * re-mutated on a hot path.
    */
  private def ensureNanosAsLong(s: SparkSession): Unit = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (!s.conf.getOption(key).contains("true")) s.conf.set(key, "true")
  }

  def events(s: SparkSession, d: String): DataFrame = {
    ensureNanosAsLong(s)
    normalizeEventTs(load(s, d, "events"))
  }

  /** Canonicalize a `ts` column (long epoch-nanos, TIMESTAMP, or
    * TIMESTAMP_NTZ) into `ts` TimestampType + `ts_ns` long epoch-nanos.
    * Pure column surgery — works on batch and streaming frames alike.
    */
  /** Plausibility floor for INT64 `ts` trusted as epoch-NANOS: 1.0e17 ns
    * ≈ 1973-03. Any real event timestamp is far above it in nanos, while
    * the nearest mis-encoding — a regen writing plain INT64 epoch-MICROS
    * with no logical type — lands modern instants near 1.7e15, three
    * orders of magnitude BELOW the floor. Without this, that regen would
    * load silently with every instant 1000× off (the exact silent-drift
    * class the round-11 hardening was for); with it, the first action
    * over such a file raises the diagnosis per offending value.
    */
  private val MinPlausibleNanos = 100000000000000000L

  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => // legacy TIMESTAMP(NANOS) read as raw nanos
        // a NULL ts propagates as null (the pre-guard semantics: no
        // instant, nothing to misread); only present-but-implausible
        // values raise, and the message coalesces defensively so the
        // diagnosis can never itself be nulled away
        df.withColumn("ts_ns", expr(
          s"""CASE WHEN ts IS NULL THEN CAST(NULL AS BIGINT)
             |WHEN ts >= ${MinPlausibleNanos}L THEN ts
             |ELSE raise_error(concat('events.ts: INT64 value ',
             |  COALESCE(CAST(ts AS STRING), 'NULL'),
             |  ' is implausible as epoch-nanos (< 1.0e17, ~1973) — a testdata regen',
             |  ' likely wrote plain INT64 epoch-micros without a logical type;',
             |  ' INT64 ts is trusted as NANOS (Tables.normalizeEventTs)'))
             |END""".stripMargin))
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case TimestampType =>
        df.withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
      case TimestampNTZType => // exact under the UTC session timezone
        df.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported parquet encoding $other " +
            "(expected INT64 nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
    }

  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")

  /** All driver-generated input tables, in TESTDATA.md order. */
  val AllNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** `s` as a JSON string literal, through Jackson's escaper: the same
    * bytes Jackson writes, so a control character in a name or an SQL
    * text can never break a reader's `json.load`.
    */
  def jsonString(s: String): String =
    "\"" + String.valueOf(JsonStringEncoder.getInstance().quoteAsString(s)) + "\""

  /** One-line-per-table schema echo as a JSON object string, for the
    * bench/verify artifacts: what Spark ACTUALLY loads per input table,
    * so a testdata schema drift (round 10: events.ts nanos →
    * TIMESTAMP_NTZ) is a one-glance artifact diff instead of file-mtime
    * archaeology. Diagnostic by design: an unreadable table echoes the
    * error (null-message-safe) rather than failing the run — the gates
    * themselves are the judgment.
    */
  def inputSchemaJson(spark: SparkSession, dir: String): String = {
    ensureNanosAsLong(spark)
    AllNames.map { t =>
      // contract drift rides along in the echo (" !drift ..."), so the
      // artifact a regression reader opens first carries the diagnosis
      val ddl =
        try {
          val schema = spark.read.parquet(s"$dir/$t.parquet").schema
          schema.toDDL + drift(t, schema).map(d => " !" + d.summary).getOrElse("")
        } catch { case e: Exception =>
          "unreadable: " + Option(e.getMessage)
            .flatMap(_.linesIterator.nextOption())
            .getOrElse(e.getClass.getName) }
      s"${jsonString(t)}:${jsonString(ddl)}"
    }.mkString("{", ",", "}")
  }

  /** `embeddings.embedding` is contractually `array<float>` (AnnIndex and
    * the similarity gates read `Seq[Float]`, and oracle parity was
    * calibrated at float precision). Same drift-hardening as [[events]]:
    * a regen that re-encodes the same values as `array<double>` is cast
    * back to float — exact when the doubles originated as floats, which
    * is what an encoding-only drift means — and any other element type
    * fails loud at load instead of as a mid-query cast error.
    */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val df = load(s, d, "embeddings")
    df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => df
      case ArrayType(DoubleType, _) =>
        df.withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
      case other =>
        throw new IllegalArgumentException(
          s"embeddings.embedding: unsupported parquet encoding $other " +
            "(expected array<float> or array<double>)")
    }
  }
}
