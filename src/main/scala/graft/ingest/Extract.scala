package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.QuerySummary

/** Stage 2 of the pipeline (reference `extract.py`): a directory of
  * QueryInfo JSON documents (plain or .gz) → `Dataset[QuerySummary]` →
  * parquet / gzipped JSONL.
  *
  * Distribution model: one row per FILE, so parsing fans out across
  * executors (the reference is a single-threaded loop). gzip per-file is
  * fine — each file is small (50-200 kB) and the unit of parallelism is
  * the file, not the split. At 100 TB of logs the same plan holds: the
  * scan lists millions of files, Spark assigns them to tasks, and the
  * output is written as partitioned parquet — analyzers then read
  * columnar, pruned input instead of re-parsing JSON (SURVEY §4:
  * "ingest→Parquet once, analyze from Parquet").
  *
  * Source choice (r21 optimization round, guide §6): the scan is the
  * `binaryFile` source with task-side gunzip+decode, replacing the
  * `wholetext` text source. Measured over the 10k-doc corpus at 32
  * cores, warm: wholetext scan-only 3.3 s vs binaryFile 0.44 s (~7×) —
  * the text path pays per-file Hadoop codec/record-reader setup that
  * dwarfs the actual ~0.2 ms/file gunzip, which a plain
  * `GZIPInputStream` over the fetched bytes does on the task thread.
  * Decompression stays extension-keyed (`.gz`), exactly the reference's
  * rule; a corrupt ARCHIVE now drops the record (the per-file
  * ValueError catch of `extract.py:204-205`) instead of failing the
  * task, which is the posture the corrupt-JSON drop class already
  * documents. The streaming twin (StreamingIngest) keeps the wholetext
  * source — its cost is watermark/batch-bound, not scan-bound.
  */
object Extract {

  /** Gunzip (by `.gz` extension — the reference's rule) and UTF-8-decode
    * one file's bytes; None = corrupt archive, record dropped.
    */
  private[graft] def decodeFile(path: String, bytes: Array[Byte]): Option[String] =
    try {
      val in: java.io.InputStream =
        if (path.endsWith(".gz"))
          new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(bytes), 65536)
        else new java.io.ByteArrayInputStream(bytes)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Parse every `*.json` / `*.json.gz` under `inputDir`. */
  def extract(spark: SparkSession, inputDir: String, limit: Option[Int] = None): Dataset[QuerySummary] = {
    import spark.implicits._
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.json*")
      .load(inputDir)
      .select(org.apache.spark.sql.functions.col("path"),
        org.apache.spark.sql.functions.col("content"))
    val limited = limit.map(files.limit).getOrElse(files)
    limited.as[(String, Array[Byte])].flatMap { case (path, bytes) =>
      decodeFile(path, bytes).flatMap(QueryInfoParser.parse)
    }
  }

  /** JSONL.gz sink (`extract.py:189-206`): one JSON object per line. */
  def writeJsonl(ds: Dataset[QuerySummary], outPath: String): Unit =
    ds.toDF().write.mode("overwrite")
      .option("compression", "gzip").json(outPath)

  /** Parquet sink — the preferred at-scale layout for the analyze stage. */
  def writeParquet(ds: Dataset[QuerySummary], outPath: String): Unit =
    ds.toDF().write.mode("overwrite").parquet(outPath)

  /** Typed read of a parquet summary table written by [[writeParquet]]. */
  def readParquetAsSummaries(spark: SparkSession, path: String): Dataset[QuerySummary] = {
    import spark.implicits._
    spark.read.parquet(path).as[QuerySummary]
  }

  /** Read back a summary table written by [[writeJsonl]] with the exact
    * summary schema (never inferred — corrupt lines must drop, not poison
    * the schema). PERMISSIVE + explicit schema keeps a malformed line as an
    * all-null row, so the reference's discard semantics
    * (`extract.py:204-205`) need the explicit not-null filter on the
    * mandatory key — `query_id` is never null in a well-formed summary.
    */
  def readJsonl(spark: SparkSession, path: String): Dataset[QuerySummary] = {
    import spark.implicits._
    spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[QuerySummary]].schema)
      .option("mode", "PERMISSIVE")
      .json(path)
      .filter(col("query_id").isNotNull)
      .as[QuerySummary]
  }
}

/** The cached derived views every analyzer consumes (SURVEY §7.1): the
  * summaries are scanned once; `operators` / `scans` / `joins` are
  * exploded once and reused by all 28 analyzers instead of 28 rescans
  * (the reference re-iterates its in-memory list per chart,
  * `analyze.py:1241-1248`).
  *
  * Each view is a narrow projection of [[base]]: plan nodes and operators
  * are resolved inside their own query's arrays, so no view plans a join,
  * a window or an exchange.
  *
  * Partitioning: [[base]] is cached in [[WorkloadViews.basePartitions]]
  * partitions, the count AQE would coalesce a shuffle of the summary
  * relation's size into. A small workload (the daily 100-document window)
  * gets ONE partition: every view derived from it reports
  * `SinglePartition`, so the analyzers' `groupBy`s, windows and sorts need
  * no exchange, and each chart runs as one-stage jobs. A large workload
  * keeps its scan parallelism and its exchanges.
  *
  * Each view is read by two or more of the analyzers' grain jobs
  * ([[graft.analyze.Analyzers]]), so each is cached.
  *
  * Safe to share between concurrently running analyzers
  * ([[graft.analyze.AnalyzerRunner]]): a lazy view is initialized under
  * this instance's monitor, so concurrent first readers block on, and
  * then share, ONE build and ONE cached relation of each view.
  */
final class WorkloadViews private (val summaries: DataFrame) {

  import WorkloadViews._

  private val memos = new java.util.concurrent.ConcurrentHashMap[String, Memo]()

  /** `compute` (a collected grain), run once per `key` and then shared,
    * under a lock per key: a lazy val would hold this instance's monitor
    * for the whole Spark job and serialize every grain behind it.
    */
  private[graft] def memo[T](key: String)(compute: => T): T =
    memos.computeIfAbsent(key, _ => new Memo(() => compute)).value.asInstanceOf[T]

  /** FAILED-filtered base (A28 — analysis side only, `analyze.py:1231-1235`),
    * with the query-id-derived event timestamp (`analyze.py:62-63`).
    */
  val base: DataFrame = summaries
    .filter(col("state") =!= "FAILED")
    .withColumn("ts", to_timestamp(substring(col("query_id"), 1, 15), "yyyyMMdd_HHmmss"))
    .coalesce(basePartitions(summaries))
    .cache()

  /** One row per operator occurrence of `queries` (a projection of [[base]])
    * with its query's `query_id`, `ts` and `carry` columns and summed `wall`.
    */
  private def explodeOperators(queries: DataFrame, carry: String*): DataFrame = queries
    .select((Seq("query_id", "ts") ++ carry).map(col)
      :+ posexplode(col("operators")).as(Seq("op_idx", "op")): _*)
    .select(col("*"), col("op.*")).drop("op")
    .withColumn("wall",
      coalesce(col("input_wall"), lit(0.0))
        + coalesce(col("output_wall"), lit(0.0))
        + coalesce(col("finish_wall"), lit(0.0)))

  /** One row per operator occurrence (A7).
    *
    * `lazy` (r21, like every derived view below): a WorkloadViews is
    * constructed per analyzer-gate invocation, and roughly half the
    * analyzers consume only [[base]] — eagerly building the derived plans
    * charged every base-only gate driver-side plan construction for views
    * it never ran.
    */
  lazy val operators: DataFrame = explodeOperators(base).cache()

  /** Every `*Scan*` operator occurrence with its resolved plan node's
    * deepest table (A21-A23, B18/B22-24), `table_name` "" when the query
    * has no node of that id or the node has no table.
    */
  lazy val scans: DataFrame = {
    val nodes = col("nodes")
    val pos = array_position(nodes.getField("node_id"), col("node_id"))
    explodeOperators(withResolvedNodes(base), "nodes")
      .filter(col("operator_type").contains("Scan"))
      // array_position is 0 when the id is absent, and element_at(_, 0) throws
      .withColumn("deepest_table",
        when(pos > 0, element_at(nodes, pos.cast("int")).getField("deepest_table")))
      .withColumn("table_name", coalesce(col("deepest_table"), lit("")))
      .drop("nodes")
      .cache()
  }

  /** Classified join sites (A24, `analyze.py:1040-1080`): per resolved
    * join/semijoin node, the probe/build pair, each the LAST operator of its
    * type on the node (`{op["type"]: op}`, `analyze.py:1056`); a site
    * missing either side is dropped.
    *
    * The sites are built and filtered inside each query's array before the
    * explode, so each lookup runs once per join node: a filter on lookups
    * projected after the explode would be pushed below that projection,
    * with the lookups inlined into it.
    */
  lazy val joins: DataFrame = {
    def lastOp(site: Column, typeField: String): Column = try_element_at(
      filter(col("operators"), o =>
        o.getField("node_id") === site.getField("n").getField("node_id") &&
          o.getField("operator_type") === site.getField(typeField)),
      lit(-1))
    val typed = transform(filter(col("nodes"), _.getField("node_type").endsWith("join")), { n =>
      val semi = n.getField("node_type") === "semijoin"
      val hashed = n.getField("has_criteria") || n.getField("join_type") =!= "INNER"
      struct(n.as("n"),
        when(semi, lit("HashSemiJoinOperator")).when(hashed, lit("LookupJoinOperator"))
          .otherwise(lit("NestedLoopJoinOperator")).as("probe_type"),
        when(semi, lit("SetBuilderOperator")).when(hashed, lit("HashBuilderOperator"))
          .otherwise(lit("NestedLoopBuildOperator")).as("build_type"))
    })
    val sites = filter(
      transform(typed, s => struct(s.getField("n").as("n"),
        s.getField("probe_type").as("probe_type"), s.getField("build_type").as("build_type"),
        lastOp(s, "probe_type").as("probe"), lastOp(s, "build_type").as("build"))),
      s => s.getField("probe").isNotNull && s.getField("build").isNotNull)
    withResolvedNodes(base)
      .select(col("query_id"), explode(sites).as("s"))
      .select(col("query_id"), col("s.n.*"), col("s.probe_type"), col("s.build_type"),
        col("s.probe.input_size").as("probe_input_size"),
        col("s.probe.input_rows").as("probe_input_rows"),
        col("s.probe.output_rows").as("probe_output_rows"),
        col("s.build.input_size").as("build_input_size"),
        col("s.build.input_rows").as("build_input_rows"))
      .cache()
  }
}

object WorkloadViews {

  /** A value computed on first use under its own monitor (retried after a failure). */
  private final class Memo(compute: () => Any) { lazy val value: Any = compute() }

  /** Declarative drift contract for the summary relation (round 14,
    * closing the round-12 ask): the expected schema IS
    * [[graft.model.QuerySummary]]'s encoder schema — the summaries are
    * always produced by this library's own extractor, so any divergence
    * means a drifted committed fixture, a hand-edited parquet, or
    * version skew between a written summary table and the reader.
    * Before this, such drift surfaced as an unresolved-column or cast
    * error N analyzers deep into the view DAG.
    */
  /** Nullability is NOT drift: the encoder schema marks primitive struct
    * fields NOT NULL while a parquet round-trip (or PERMISSIVE JSONL
    * read) loads everything nullable — same data, different containers.
    * Both sides are normalized to fully-nullable before diffing, so the
    * contract compares names/types/order only.
    */
  private def asNullable(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private[graft] val ExpectedSummary: Seq[(String, String)] =
    org.apache.spark.sql.Encoders.product[QuerySummary].schema
      .fields.toSeq.map(f => f.name -> asNullable(f.dataType).sql)

  /** Once-per-diagnosis warn registry — views are constructed per gate
    * per bench pass; the diagnosis must not scroll the artifact away.
    */
  private val warned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Same semantics as the star-schema loaders ([[graft.tables.Tables]],
    * shared diff code): a MISSING column is fatal in one line here — a
    * readable `workload summaries: schema drift vs contract —
    * missing=[state STRING]` instead of the analysis error the 30 gate
    * chains would each die with; retype/extra/reorder warns once and
    * proceeds (by-name access tolerates it), escalating to fatal under
    * `spark.graft.strictSchema` / `SPARK_GRAFT_STRICT_SCHEMA`.
    */
  /** The contract diff for a summary schema (nullability-normalized both
    * sides — see [[asNullable]]).
    */
  private[graft] def summaryDrift(
      schema: org.apache.spark.sql.types.StructType): Option[graft.tables.Tables.SchemaDrift] =
    graft.tables.Tables.driftAgainst(ExpectedSummary,
      org.apache.spark.sql.types.StructType(
        schema.fields.map(f => f.copy(dataType = asNullable(f.dataType)))))

  /** `queries` plus `nodes`, its `plan_nodes` with one node per `node_id`:
    * the last fragment's, then the later `dfs_order`'s, as the reference's
    * `{id: node}` dict keeps it (`analyze.py:596,1028-1037`). One sort puts
    * each id's winner first in its run; the filter keeps the run heads and
    * reads the sorted column, so the sort runs once per query.
    */
  private def withResolvedNodes(queries: DataFrame): DataFrame = {
    val sorted = col("nodes")
    queries
      .withColumn("nodes", sort_array(transform(col("plan_nodes"), n => named_struct(
        lit("id"), n.getField("node_id"), lit("f"), -n.getField("fragment_idx"),
        lit("d"), -n.getField("dfs_order"), lit("node"), n))))
      // CASE, not OR, so element_at(_, 0), which throws, is never evaluated
      .withColumn("nodes", transform(filter(sorted, (x, i) => when(i === 0, lit(true))
        .otherwise(!(element_at(sorted, i).getField("id") <=> x.getField("id")))),
        _.getField("node")))
  }

  /** Partitions for the cached [[WorkloadViews.base]]: the rule AQE
    * applies when it coalesces shuffle output
    * (`CoalesceShufflePartitions`), applied to the summary relation's
    * size statistic and read from the session's own AQE confs. The target
    * partition size is the advisory size, lowered to size / default
    * parallelism under `parallelismFirst`, but never below the minimum
    * partition size. A relation no larger than the target is one
    * partition; `coalesce` never raises a scan's partition count, so a
    * larger relation keeps its parallelism. The decision reads the
    * relation's bytes, never its file or split count.
    */
  private[graft] def basePartitions(summaries: DataFrame): Int = {
    import org.apache.spark.sql.internal.SQLConf
    val spark = summaries.sparkSession
    val conf = spark.sessionState.conf
    val size = summaries.queryExecution.optimizedPlan.stats.sizeInBytes
    val minParts =
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        spark.sparkContext.defaultParallelism
      else 1
    val target = ((size + minParts - 1) / minParts)
      .min(BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)))
      .max(BigInt(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)))
      .max(BigInt(1))
    ((size + target - 1) / target).max(BigInt(1)).min(BigInt(Int.MaxValue)).toInt
  }

  def apply(summaries: DataFrame): WorkloadViews = {
    summaryDrift(summaries.schema).foreach { d =>
      val msg = d.message("workload summaries")
      if (d.fatal || graft.tables.Tables.strictSchema(summaries.sparkSession))
        throw new IllegalArgumentException(msg)
      else if (warned.add(msg))
        System.err.println(s"[views] WARNING: $msg")
    }
    new WorkloadViews(summaries)
  }
}
