package graft.process

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.core.io.JsonStringEncoder

/** Stage 2.5 (reference `jsonl_process.py`): schema filtering + name
  * obfuscation over the summary table.
  *
  * The reference walks raw nested JSON per line (`nested_lookup`); on the
  * normalized schema each key lives in a known column, so filtering is a
  * plain predicate and obfuscation a map lookup in a narrow projection.
  * Each dictionary (the reference's "translation table",
  * `jsonl_process.py:186-194`) is built by one distributed aggregation
  * over the distinct names and collected, bounded, to the driver.
  *
  * First-seen-order encoding (`NameObfuscator`, `jsonl_process.py:53-76`)
  * is order-dependent in the reference (file iteration order); here it is
  * made deterministic as the rank of first occurrence = min(query_id)
  * (SURVEY §7.4), which reproduces the reference ordering when files are
  * processed in query-id order (they are: paths are sorted,
  * `extract.py:183`).
  */
object JsonlProcess {

  /** A13 `filter_line` on a normalized column — the single-key case of
    * [[filterByColumns]] (one implementation of the keep/absent logic).
    */
  def filterByColumn(df: DataFrame, column: String, value: String,
      includeAbsent: Boolean = true): DataFrame =
    filterByColumns(df, Map(column -> value), includeAbsent = includeAbsent)

  /** Full `filter_line` parity (`jsonl_process.py:37-50`): multi-key
    * filter over normalized columns. keep = (includeAbsent AND every key
    * absent) OR (orAnd AND any key matches) OR (NOT orAnd AND all keys
    * match). "Absent" on the normalized schema = the column is null (the
    * reference counts key occurrences in the nested dict; a null column is
    * exactly a key the summary does not carry for that row).
    */
  def filterByColumns(df: DataFrame, filters: Map[String, String],
      orAnd: Boolean = true, includeAbsent: Boolean = true): DataFrame = {
    require(filters.nonEmpty, "filterByColumns needs at least one key")
    val conds = filters.toSeq.sortBy(_._1)
    val found = conds.map { case (c, v) => col(c).isNotNull && col(c) === v }
    val allAbsent = conds.map { case (c, _) => col(c).isNull }.reduce(_ && _)
    val matched = if (orAnd) found.reduce(_ || _) else found.reduce(_ && _)
    df.filter(if (includeAbsent) allAbsent || matched else matched)
  }

  /** `--filter-schema` (`jsonl_process.py:172-174`: `filter_line` with
    * `{schema: v, schemaName: v}`, OR logic, include-absent): keep rows
    * whose schema — in any of the normalized carriers: the `schema` field
    * of a raw `inputs` JSON element, or the schema segment of a resolved
    * 3-part `plan_nodes.table_name` — equals `schema`; rows carrying NO
    * schema occurrence at all are kept (include-absent).
    */
  def filterBySchema(df: DataFrame, schema: String): DataFrame = {
    val inInputs = exists(col("inputs"),
      i => get_json_object(i, "$.schema") === schema)
    val inTables = exists(col("plan_nodes"), n => {
      val parts = split(n.getField("table_name"), "\\.")
      size(parts) === 3 && parts(1) === schema
    })
    // null carriers count 0 occurrences EXPLICITLY (when/isNull), never
    // via coalesce(size(...)): under spark.sql.ansi.enabled=false the
    // legacy sizeOfNull convention makes size(null) return -1 — not
    // null — so the coalesce silently never engaged and a carrier-less
    // row (inputs AND plan_nodes both null) scored -2 occurrences and
    // was DROPPED instead of kept by the include-absent arm. The
    // explicit branch is config-independent.
    def occurrencesIn(arr: Column, pred: Column => Column): Column =
      when(arr.isNull, lit(0)).otherwise(size(filter(arr, pred)))
    val occurrences =
      occurrencesIn(col("inputs"),
        i => get_json_object(i, "$.schema").isNotNull) +
      occurrencesIn(col("plan_nodes"),
        n => size(split(n.getField("table_name"), "\\.")) === 3)
    df.filter(occurrences === 0 || inInputs || inTables)
  }

  // ---- token assignment modes -----------------------------------------
  //
  // Default tokens are the reference contract: `prefix0, prefix1, …` in
  // first-seen order (`NameObfuscator`, `jsonl_process.py:53-61`). Every
  // sequential dictionary — users, arrays, schemas, catalogs — goes
  // through [[firstSeenDict]]: one bounded collect of the distinct names,
  // numbered on the driver, then applied as a map-literal lookup in a
  // narrow projection. The opt-in HASH mode (`--hash-tokens`) trades the
  // sequential numbering for `prefix` + 16-hex md5 prefix of the name —
  // for users and arrays a pure narrow map with no dictionary at all — for
  // corpora whose name cardinality is too large to hold on the driver
  // (64-bit tokens: collision odds ~n²/2^65, ~3e-7 at 100 M distinct
  // names). Same injectivity and '' guard; tokens are stable across
  // runs/partitionings by construction.

  /** The hash-mode token for one name column ('' passes through, like
    * `NameObfuscator.__call__`'s guard).
    */
  private def hashToken(c: Column, prefix: String): Column =
    when(c.isNull || c === "", c)
      .otherwise(concat(lit(prefix), substring(md5(c), 1, 16)))

  /** The one sequential dictionary: `(old_name, first_seen)` rows, one per
    * distinct name → `prefix0, prefix1, …` in `(first_seen, old_name)`
    * order. Collected to the driver through [[collectBounded]]: obfuscation
    * dictionaries are catalog-metadata-sized by nature (like the IVF
    * centroids), and shipping them as plan literals makes every rewrite an
    * in-place projection — no join, no explode/regroup, so duplicate
    * query_ids can never merge rows and a null or empty array keeps its
    * identity. `old_name` is distinct, so the numbering is exactly a dense
    * rank over the first-seen order.
    */
  private def firstSeenDict(names: DataFrame, prefix: String,
      what: String): Map[String, String] =
    collectBounded(names.orderBy(col("first_seen"), col("old_name")),
        maxDictNames(names.sparkSession), what)
      .zipWithIndex
      .map { case (r, i) => r.getString(0) -> s"$prefix$i" }
      .toMap

  /** `c` through `dict`; names outside it — '' and null included — pass
    * through. try_element_at, not element_at: under ANSI (Spark 4
    * default) a miss on a map THROWS, and misses are normal here. The
    * lookup scans the map literal's keys, so its per-row cost grows with
    * the dictionary: past some thousands of names `--hash-tokens` is the
    * cheaper mode.
    */
  private def lookup(dict: Map[String, String]): Column => Column = {
    val m = typedLit(dict)
    c => coalesce(try_element_at(m, c), c)
  }

  /** A14/A15: replace `column` values by their first-seen (min query_id)
    * tokens ('' passes through unchanged, matching
    * `NameObfuscator.__call__`'s `''` guard).
    */
  def obfuscateColumn(df: DataFrame, column: String, prefix: String,
      hashTokens: Boolean = false): DataFrame =
    if (hashTokens)
      df.withColumn(column, hashToken(col(column), prefix))
    else {
      val names = df.filter(col(column).isNotNull && col(column) =!= "")
        .groupBy(col(column).as("old_name"))
        .agg(min(col("query_id")).as("first_seen"))
      df.withColumn(column,
        lookup(firstSeenDict(names, prefix, s"$prefix dictionary"))(col(column)))
    }

  /** `ListObfuscator` (`jsonl_process.py:68-76`): obfuscate every element
    * of an array<string> column through ONE shared dictionary (the
    * reference's partitionIds case). First-seen order is (min query_id,
    * min position) — the deterministic equivalent of its sequential scan.
    * Both modes rewrite in place with `transform`: row identity, array
    * order, '' elements and null/empty arrays are preserved by
    * construction.
    */
  def obfuscateArrayColumn(df: DataFrame, column: String, prefix: String,
      hashTokens: Boolean = false): DataFrame = {
    if (hashTokens)
      return df.withColumn(column,
        transform(col(column), x => hashToken(x, prefix)))
    val names = df
      .select(col("query_id"), explode(transform(col(column),
        (x, i) => struct(i.as("pos"), x.as("old_name")))).as("e"))
      .filter(col("e.old_name") =!= "")
      .groupBy(col("e.old_name").as("old_name"))
      .agg(min(struct(col("query_id"), col("e.pos"))).as("first_seen"))
    df.withColumn(column, transform(col(column),
      lookup(firstSeenDict(names, prefix, s"$prefix array dictionary"))))
  }

  // ---- schema / catalog obfuscation over the normalized carriers ------
  //
  // The reference renames the values of `schema`/`schemaName` keys (ONE
  // shared NameObfuscator, `jsonl_process.py:133-136`) and `catalogName`
  // keys (`:138-140`) anywhere in the raw nested JSON. After
  // normalization those values live in exactly two places: the raw
  // `inputs` JSON elements ({"connectorId","schema","table"}) and the
  // resolved `connector.schema.table` names on plan nodes. The dictionary
  // is built over the UNION of both carriers, so the same name maps to one
  // token wherever it appears — the injectivity the reference gets from
  // sharing one obfuscator instance across keys. Segment renames only
  // apply to unambiguous 3-part names: a 2-part name (connector.table or
  // schema.table — the resolver flattens both shapes) cannot be split
  // reliably and passes through unchanged. For exact key-based rename
  // parity (no name splitting at all), run [[RawProcess]] over the raw
  // documents BEFORE extract — the 2-part ambiguity only exists after
  // the flatten.

  private def seg(c: Column, i: Int): Column = split(c, "\\.")(i)
  private def isThreePart(c: Column): Column =
    c.isNotNull && size(split(c, "\\.")) === 3

  /** Hard bound on the distinct-name cardinality a collected obfuscation
    * dictionary may reach (round 12): every obfuscation dictionary — users,
    * arrays, schemas, catalogs — is collected to the driver and
    * catalog-metadata-sized by NATURE, and that scale contract is
    * enforced, not just documented — a pathological corpus (say, one
    * generated schema per query) would otherwise OOM the driver inside
    * `collect()` with no diagnosis. 10M names ≈ hundreds of MB of driver
    * map: far above any real catalog, low enough to fail before the heap
    * does. Raise deliberately via `spark.graft.maxDictNames` (session
    * conf) or SPARK_GRAFT_MAX_DICT_NAMES (env).
    */
  private[graft] val DefaultMaxDictNames = 10000000L

  private[graft] def maxDictNames(spark: org.apache.spark.sql.SparkSession): Long = {
    val v = spark.conf.getOption("spark.graft.maxDictNames")
      .orElse(sys.env.get("SPARK_GRAFT_MAX_DICT_NAMES"))
      .map { raw =>
        try raw.trim.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.maxDictNames / SPARK_GRAFT_MAX_DICT_NAMES must be " +
              s"a positive long, got '$raw'")
        }
      }
      .getOrElse(DefaultMaxDictNames)
    // the overflow sentinel fetches bound+1 rows through limit(Int), so
    // a bound at or past Int.MaxValue would silently DISARM the guard
    // (truncated dictionary, names past the limit passing through
    // unobfuscated) — refuse it loudly instead; a driver map that size
    // could never be collected anyway
    require(v > 0 && v < Int.MaxValue,
      s"spark.graft.maxDictNames must be in [1, ${Int.MaxValue - 1}], got $v")
    v
  }

  /** Collect at most `bound` dictionary rows — one extra row is fetched
    * as the overflow sentinel, so the guard costs no second aggregation
    * pass and never materializes an unbounded result on the driver.
    * Shared with [[RawProcess.buildDictionaries]] (round 13): ONE
    * definition guards every dictionary collect in the repo, so neither
    * obfuscation path can regress to an unbounded driver materialization.
    * `escape` names the caller-appropriate way out (the normalized path
    * has `--hash-tokens`; the raw path points at it).
    */
  private[process] def collectBounded(names: DataFrame, bound: Long,
      what: String,
      escape: String = "Use --hash-tokens (pure-function tokens, no total-order sort)")
      : Array[org.apache.spark.sql.Row] = {
    val rows = names.limit(bound.toInt + 1).collect()
    require(rows.length <= bound,
      s"$what: more than $bound distinct names — this dictionary is no " +
        "longer catalog-metadata-sized and would exhaust driver memory. " +
        s"$escape, " +
        "raise spark.graft.maxDictNames deliberately, or pre-filter the corpus.")
    rows
  }

  /** Shared dictionary over both carriers of one name kind: `fromInput`
    * extracts the name from a raw inputs JSON element; `segIdx` is its
    * segment position in a 3-part table name. The summaries are scanned
    * once per dictionary (plan nodes contribute both name fields through
    * one explode).
    */
  private def sharedDict(df: DataFrame, fromInput: Column => Column,
      segIdx: Int, prefix: String, hashTokens: Boolean = false): Map[String, String] = {
    val fromInputs = df.select(col("query_id"), explode(col("inputs")).as("inp"))
      .select(col("query_id"), fromInput(col("inp")).as("old_name"))
    val nodeNames = df.select(col("query_id"), explode(col("plan_nodes")).as("n"))
      .select(col("query_id"),
        explode(array(col("n.table_name"), col("n.deepest_table"))).as("tn"))
      .filter(isThreePart(col("tn")))
      .select(col("query_id"), seg(col("tn"), segIdx).as("old_name"))
    val names = fromInputs.unionAll(nodeNames)
      .filter(col("old_name").isNotNull && col("old_name") =!= "")
      .groupBy(col("old_name")).agg(min(col("query_id")).as("first_seen"))
    // hash mode: tokens are a pure function of the name — SAME derivation
    // (engine md5, 16 hex chars) as hashToken above, computed in the same
    // aggregation job; no first-seen ordering anywhere. The dictionary is
    // still collected (applyDict rewrites both nested carriers from a map
    // literal), so hash mode removes the total-order sort but keeps the
    // catalog-metadata-sized driver map.
    if (hashTokens)
      collectBounded(names.select(col("old_name"),
          concat(lit(prefix), substring(md5(col("old_name")), 1, 16)).as("tok")),
          maxDictNames(df.sparkSession), s"$prefix dictionary (hash mode)")
        .map(r => r.getString(0) -> r.getString(1))
        .toMap
    else firstSeenDict(names, prefix, s"$prefix dictionary")
  }

  /** Rename schema/catalog occurrences through one shared dictionary:
    * the `key` field of raw inputs JSON (literal replace on the escaped
    * compact form — unknown fields survive untouched) and segment
    * `segIdx` of every 3-part table_name/deepest_table in plan_nodes
    * (struct rebuilt field by field — Spark has no nested-field update
    * inside an array). Both rewrites are in-place `transform`s: row
    * identity and array order are preserved by construction. The map
    * literal carries (token, escaped-old) per name, so each inputs
    * element pays ONE JSON extraction and one map probe.
    */
  private def applyDict(df: DataFrame, dict: Map[String, String],
      key: String, segIdx: Int): DataFrame = {
    if (dict.isEmpty) return df
    // ONE map literal: old name -> (token, jackson-escaped old name).
    // try_element_at, not element_at: under ANSI (Spark 4 default) a miss
    // on a map THROWS — and misses are normal here ('' never enters the
    // dictionary, mirroring NameObfuscator's guard; names outside the
    // dict pass through).
    // The raw element is Jackson's `JsonNode.toString`, which stores a
    // name `get_json_object` reports as `we"b` as `we\"b`: the replace
    // searches for the form Jackson's own escaper makes.
    val withEsc = typedLit(dict.map { case (o, n) =>
      o -> (n, String.valueOf(JsonStringEncoder.getInstance().quoteAsString(o))) })
    def renamed(c: Column): Column = try_element_at(withEsc, c).getField("_1")
    def putSeg(c: Column): Column = {
      val repl = renamed(seg(c, segIdx))
      when(isThreePart(c) && repl.isNotNull,
        concat_ws(".", (0 until 3).map(i => if (i == segIdx) repl else seg(c, i)): _*))
        .otherwise(c)
    }
    df.withColumn("inputs", transform(col("inputs"), { inp =>
      val hit = try_element_at(withEsc, get_json_object(inp, s"$$.$key"))
      when(hit.isNull, inp).otherwise(
        replace(inp, concat(lit(s""""$key":""""), hit.getField("_2"), lit("\"")),
          concat(lit(s""""$key":""""), hit.getField("_1"), lit("\""))))
    }))
      .withColumn("plan_nodes", transform(col("plan_nodes"), n => struct(
        n.getField("fragment_id").as("fragment_id"),
        n.getField("fragment_idx").as("fragment_idx"),
        n.getField("node_id").as("node_id"),
        n.getField("node_type").as("node_type"),
        n.getField("parent_id").as("parent_id"),
        n.getField("depth").as("depth"),
        n.getField("dfs_order").as("dfs_order"),
        n.getField("subtree_end").as("subtree_end"),
        putSeg(n.getField("table_name")).as("table_name"),
        putSeg(n.getField("deepest_table")).as("deepest_table"),
        n.getField("join_type").as("join_type"),
        n.getField("join_distribution").as("join_distribution"),
        n.getField("has_criteria").as("has_criteria"))))
  }

  /** `--rename-schemas` (`jsonl_process.py:133-136`): one dictionary,
    * every schema occurrence — inputs' `schema` field + the middle segment
    * of 3-part table names.
    */
  def renameSchemas(df: DataFrame, hashTokens: Boolean = false): DataFrame =
    applyDict(df,
      sharedDict(df, i => get_json_object(i, "$.schema"), 1, "schema", hashTokens),
      "schema", 1)

  /** `--rename-catalogs` (`jsonl_process.py:138-140`): one dictionary over
    * the catalog/connector occurrences — inputs' `connectorId` field + the
    * first segment of 3-part table names.
    */
  def renameCatalogs(df: DataFrame, hashTokens: Boolean = false): DataFrame =
    applyDict(df,
      sharedDict(df, i => get_json_object(i, "$.connectorId"), 0, "catalog", hashTokens),
      "connectorId", 0)

  /** `--remove-locations` (`jsonl_process.py:142-145`): blank the values
    * of `location`/`targetPath`/`writePath` keys. The raw `inputs`
    * elements are the only carrier after normalization (the typed summary
    * has no path columns by construction). The value pattern accepts
    * escaped characters, so a path containing `\"` is scrubbed whole
    * rather than truncated at the escape.
    */
  def removeLocations(df: DataFrame): DataFrame =
    df.withColumn("inputs", transform(col("inputs"), i =>
      regexp_replace(i,
        "\"(location|targetPath|writePath)\":\"(?:[^\"\\\\]|\\\\.)*\"",
        "\"$1\":\"\"")))

  /** `--remove-query` equivalent: blank the query text. The reference also
    * blanks `rows` keys (EXPLAIN VALUES literals inside raw fragments,
    * `jsonl_process.py:127-130`); the flatten drops node payloads at
    * ingest, so `query` is the only literal carrier left to clear here —
    * [[RawProcess]] clears `rows` at the raw-document stage, where the
    * carrier still exists.
    */
  def removeQuery(df: DataFrame): DataFrame =
    df.withColumn("query", lit(""))

  /** `--rename-user` equivalent (user + principal share one dictionary in
    * the reference; the summary schema carries only `user`).
    */
  def renameUsers(df: DataFrame, hashTokens: Boolean = false): DataFrame =
    obfuscateColumn(df, "user", "user", hashTokens)
}
