package graft.process

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.core.io.JsonStringEncoder

/** Stage 2.5 (reference `jsonl_process.py`): schema filtering + name
  * obfuscation over the summary table.
  *
  * The reference walks raw nested JSON per line (`nested_lookup`); on the
  * normalized schema each key lives in a known column, so filtering is a
  * plain predicate and obfuscation a map lookup in a narrow projection.
  * The dictionaries (the reference's "translation table",
  * `jsonl_process.py:186-194`) are built by a distributed aggregation
  * over the distinct names and collected, bounded, to the driver.
  *
  * Composition contract: the per-flag renames [[renameUsers]],
  * [[renameSchemas]] and [[renameCatalogs]] compose. The first of them on
  * a frame collects every user, schema and catalog dictionary the frame's
  * columns carry in one collect, bounded per kind; applying another to
  * the frame it returned reuses those dictionaries and rebuilds the result
  * from the original frame in one projection, so a chain of the three
  * costs one dictionary collect and one rewrite of `inputs` and
  * `plan_nodes`. The result equals the one-by-one chain. Any other frame
  * starts fresh: one that was filtered, re-selected or otherwise derived,
  * one that went through [[removeLocations]], [[removeQuery]], hash-token
  * mode or [[obfuscateArrayColumn]] (these stack on top, uncomposed), one
  * whose first rename could not read the carrier of the kind now asked
  * for, and one that already carries the rename asked for.
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
  // first-seen order (`NameObfuscator`, `jsonl_process.py:53-61`). A
  // sequential dictionary is a bounded collect of the distinct names
  // ordered by (first_seen, old_name) in Spark, numbered on the driver and
  // applied as a map-literal lookup ([[lookup]]) in a narrow projection.
  // The user, schema and catalog dictionaries of one frame share a single
  // collect, the census (see "composition" below), bounded per kind; the
  // array dictionary goes through [[firstSeenDict]] alone. The opt-in
  // HASH mode (`--hash-tokens`) trades the sequential numbering for
  // `prefix` + 16-hex md5 prefix of the name — for users and arrays a pure
  // narrow map with no dictionary at all — for corpora whose name
  // cardinality is too large to hold on the driver (64-bit tokens:
  // collision odds ~n²/2^65, ~3e-7 at 100 M distinct names). Same
  // injectivity and '' guard; tokens are stable across runs/partitionings
  // by construction.

  /** The hash-mode token for one name column ('' passes through, like
    * `NameObfuscator.__call__`'s guard).
    */
  private def hashToken(c: Column, prefix: String): Column =
    when(c.isNull || c === "", c)
      .otherwise(concat(lit(prefix), substring(md5(c), 1, 16)))

  /** `prefix0, prefix1, …` over `names` in the order given. */
  private def numbered(names: Seq[String], prefix: String): Map[String, String] =
    names.zipWithIndex.map { case (n, i) => n -> s"$prefix$i" }.toMap

  /** A sequential dictionary on its own (the array rename's):
    * `(old_name, first_seen)` rows, one per distinct name → `prefix0,
    * prefix1, …` in `(first_seen, old_name)` order. Collected to the
    * driver through [[collectBounded]]: obfuscation dictionaries are
    * catalog-metadata-sized by nature (like the IVF centroids), and
    * shipping them as plan literals makes every rewrite an in-place
    * projection — no join, no explode/regroup, so duplicate query_ids can
    * never merge rows and a null or empty array keeps its identity.
    * `old_name` is distinct, so the numbering is exactly a dense rank over
    * the first-seen order.
    */
  private def firstSeenDict(names: DataFrame, prefix: String,
      what: String): Map[String, String] =
    numbered(collectBounded(names.orderBy(col("first_seen"), col("old_name")),
        maxDictNames(names.sparkSession), what).map(_.getString(0)).toSeq, prefix)

  /** `c` looked up in `dict`: the value, or null on a miss ('' and null
    * included). try_element_at, not element_at: under ANSI (Spark 4
    * default) a miss on a map THROWS, and misses are normal here. The
    * lookup scans the map literal's keys, so its per-row cost grows with
    * the dictionary: past some thousands of names `--hash-tokens` is the
    * cheaper mode.
    */
  private def probe[V: TypeTag](dict: Map[String, V]): Column => Column = {
    val m = typedLit(dict)
    c => try_element_at(m, c)
  }

  /** `c` through `dict`; names outside it — '' and null included — pass
    * through.
    */
  private def lookup(dict: Map[String, String]): Column => Column = {
    val hit = probe(dict)
    c => coalesce(hit(c), c)
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

  /** Fails loud when a dictionary of `n` names is past `bound`. `escape`
    * names the caller-appropriate way out (the normalized path has
    * `--hash-tokens`; the raw path points at it).
    */
  private def requireWithin(n: Long, bound: Long, what: String,
      escape: String = HashTokensEscape): Unit =
    require(n <= bound,
      s"$what: more than $bound distinct names — this dictionary is no " +
        "longer catalog-metadata-sized and would exhaust driver memory. " +
        s"$escape, " +
        "raise spark.graft.maxDictNames deliberately, or pre-filter the corpus.")

  private val HashTokensEscape =
    "Use --hash-tokens (pure-function tokens, no total-order sort)"

  /** Collect at most `bound` dictionary rows — one extra row is fetched
    * as the overflow sentinel, so the guard costs no second aggregation
    * pass and never materializes an unbounded result on the driver.
    * Shared with [[RawProcess.buildDictionaries]] (round 13): ONE
    * definition guards every dictionary collect in the repo, so neither
    * obfuscation path can regress to an unbounded driver materialization.
    */
  private[process] def collectBounded(names: DataFrame, bound: Long,
      what: String, escape: String = HashTokensEscape): Array[Row] = {
    val rows = names.limit(bound.toInt + 1).collect()
    requireWithin(rows.length, bound, what, escape)
    rows
  }

  /** One sequential rename kind: its token prefix (also its census tag and
    * its column in [[segmentNames]]), the `inputs` JSON key and the
    * segment of a 3-part table name it renames (users have neither).
    */
  private final case class Kind(prefix: String, key: String, segIdx: Int)
  private val Users = Kind("user", "", -1)
  private val Schemas = Kind("schema", "schema", 1)
  private val Catalogs = Kind("catalog", "connectorId", 0)

  /** `(query_id, schema, catalog)` per occurrence in either carrier: the
    * `$.schema`/`$.connectorId` of every raw inputs element, and segments
    * 1/0 of every 3-part table_name/deepest_table. Each array is exploded
    * once and each name split once for both kinds.
    */
  private def segmentNames(df: DataFrame): DataFrame = {
    val fromInputs = df.select(col("query_id"), explode(col("inputs")).as("i"))
      .select(col("query_id"),
        get_json_object(col("i"), "$.schema").as("schema"),
        get_json_object(col("i"), "$.connectorId").as("catalog"))
    val fromNodes = df.select(col("query_id"), explode(col("plan_nodes")).as("n"))
      .select(col("query_id"),
        explode(array(col("n.table_name"), col("n.deepest_table"))).as("tn"))
      .select(col("query_id"), split(col("tn"), "\\.").as("p"))
      .filter(col("p").isNotNull && size(col("p")) === 3)
      .select(col("query_id"), col("p")(1).as("schema"), col("p")(0).as("catalog"))
    fromInputs.unionAll(fromNodes)
  }

  /** The hash-mode schema or catalog dictionary: every name over both
    * carriers → `prefix` + 16-hex md5, the SAME derivation (engine md5)
    * as [[hashToken]], computed in the aggregation job; no first-seen
    * ordering anywhere. The dictionary is still collected (the rewrite
    * applies both nested carriers from a map literal), so hash mode
    * removes the total-order sort but keeps the catalog-metadata-sized
    * driver map.
    */
  private def hashDict(df: DataFrame, kind: Kind): Map[String, String] =
    collectBounded(segmentNames(df).select(col(kind.prefix).as("old_name"))
        .filter(col("old_name").isNotNull && col("old_name") =!= "").distinct()
        .select(col("old_name"), hashToken(col("old_name"), kind.prefix)),
        maxDictNames(df.sparkSession), s"${kind.prefix} dictionary (hash mode)")
      .map(r => r.getString(0) -> r.getString(1))
      .toMap

  /** The names of the kind `asked` and of every other kind whose carrier
    * columns `df` has, from one tagged aggregation and one collect, each
    * kind's in `(first_seen, old_name)` order. A window numbers each
    * kind's names in Spark and keeps at most `bound + 1` of them, so the
    * driver never holds more than that of one kind, and a kind past its
    * bound fails only the rename that asks for it ([[rename]]). Without
    * its carrier, `asked` fails here with Spark's own analysis error.
    */
  private def census(df: DataFrame, asked: Kind, bound: Long): Map[Kind, Seq[String]] = {
    val has = df.columns.toSet
    val users = if (asked == Users || has("user")) Seq(Users) else Nil
    val segments =
      if (asked != Users || (has("inputs") && has("plan_nodes"))) Seq(Schemas, Catalogs) else Nil
    val tagged = (
      users.map(k => df.select(col("query_id"), lit(k.prefix).as("kind"), col("user").as("old_name"))) ++
      (if (segments.isEmpty) Nil
       else Seq(segmentNames(df).unpivot(Array(col("query_id")),
         segments.map(k => col(k.prefix)).toArray, "kind", "old_name")))
    ).reduce(_ unionAll _)
    val rows = tagged.filter(col("old_name").isNotNull && col("old_name") =!= "")
      .groupBy(col("kind"), col("old_name")).agg(min(col("query_id")).as("first_seen"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("kind")).orderBy(col("first_seen"), col("old_name"))))
      .filter(col("rank") <= bound + 1)
      .select(col("kind"), col("old_name"), col("rank"))
      .collect()
    val byKind = rows.groupBy(_.getString(0))
    (users ++ segments).map(k => k -> byKind.getOrElse(k.prefix, Array.empty[Row])
      .sortBy(_.getInt(2)).map(_.getString(1)).toSeq).toMap
  }

  /** Every rename of `dicts` (at most one per kind, in call order) over
    * `df` in one projection: the user lookup, one `inputs` transform and
    * one `plan_nodes` transform that apply every segment dictionary. In
    * `inputs`, the `key` field of each raw JSON element is replaced
    * literally on the escaped compact form, so unknown fields survive
    * untouched; in `plan_nodes`, segment `segIdx` of every 3-part
    * table_name/deepest_table is renamed through `withField`, so every
    * other field keeps its value, type and place. Both rewrites are
    * in-place `transform`s: row identity and array order are preserved by
    * construction. A segment dictionary carries (token, escaped old) per
    * name, so each inputs element pays one JSON extraction and one probe
    * per kind.
    */
  private def rewrite(df: DataFrame, dicts: Seq[(Kind, Map[String, String])]): DataFrame = {
    val live = dicts.filter(_._2.nonEmpty)
    val users = live.collectFirst { case (Users, d) => "user" -> lookup(d)(col("user")) }
    // The raw element is Jackson's `JsonNode.toString`, which stores a
    // name `get_json_object` reports as `we"b` as `we\"b`: the replace
    // searches for the form Jackson's own escaper makes.
    val segs = live.filter(_._1 != Users).map { case (k, d) =>
      k -> probe(d.map { case (o, n) =>
        o -> (n, String.valueOf(JsonStringEncoder.getInstance().quoteAsString(o))) })
    }
    def putSegs(c: Column): Column = {
      val p = split(c, "\\.")
      val parts = (0 until 3).map(i => segs.find(_._1.segIdx == i)
        .fold(p(i))(s => coalesce(s._2(p(i)).getField("_1"), p(i))))
      when(c.isNotNull && size(p) === 3, concat_ws(".", parts: _*)).otherwise(c)
    }
    val carriers = if (segs.isEmpty) Nil else Seq(
      "inputs" -> transform(col("inputs"), inp =>
        segs.foldLeft(inp) { case (acc, (k, hitOf)) =>
          val hit = hitOf(get_json_object(inp, s"$$.${k.key}"))
          val pair = s""""${k.key}":""""
          when(hit.isNull, acc).otherwise(
            replace(acc, concat(lit(pair), hit.getField("_2"), lit("\"")),
              concat(lit(pair), hit.getField("_1"), lit("\""))))
        }),
      "plan_nodes" -> transform(col("plan_nodes"), n => n
        .withField("table_name", putSegs(n.getField("table_name")))
        .withField("deepest_table", putSegs(n.getField("deepest_table")))))
    val columns = users.toSeq ++ carriers
    if (columns.isEmpty) df else df.withColumns(columns.toMap)
  }

  // ---- composition of the sequential renames -------------------------
  //
  // The reference makes one sequential pass per line through shared
  // obfuscator instances (`jsonl_process.py:89-194`). Here the frame a
  // sequential rename returns is remembered — weakly, by identity — with
  // its pending state: the source frame, its [[census]] and the renames
  // asked for so far; a rename of exactly that frame rebuilds from the
  // source in one [[rewrite]] (the contract is in the object's scaladoc).
  // The fusion is sound because the renames are independent: tokens
  // contain no '.', so a 3-part name stays 3-part, and the `inputs`
  // rewrite replaces only the `"key":"…"` pair, so every dictionary reads
  // the same names from the source as from an earlier rename's output.

  private final case class Pending(source: DataFrame, bound: Long,
      census: Map[Kind, Seq[String]], renames: Vector[(Kind, Map[String, String])])

  private val pending =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[DataFrame, Pending]())

  /** One sequential rename through the composition memo. */
  private def rename(df: DataFrame, kind: Kind): DataFrame = {
    val p = Option(pending.get(df))
      .filter(p => p.census.contains(kind) && !p.renames.exists(_._1 == kind))
      .getOrElse {
        val bound = maxDictNames(df.sparkSession)
        Pending(df, bound, census(df, kind, bound), Vector.empty)
      }
    val names = p.census(kind)
    requireWithin(names.size, p.bound, s"${kind.prefix} dictionary")
    val next = p.copy(renames = p.renames :+ (kind -> numbered(names, kind.prefix)))
    val out = rewrite(next.source, next.renames)
    // a rewrite with nothing to rename returns the source itself, which
    // must not become a key its own pending state holds on to
    if (!(out eq next.source)) pending.put(out, next)
    out
  }

  /** `--rename-schemas` (`jsonl_process.py:133-136`): one dictionary,
    * every schema occurrence — inputs' `schema` field + the middle segment
    * of 3-part table names.
    */
  def renameSchemas(df: DataFrame, hashTokens: Boolean = false): DataFrame =
    if (hashTokens) rewrite(df, Seq(Schemas -> hashDict(df, Schemas)))
    else rename(df, Schemas)

  /** `--rename-catalogs` (`jsonl_process.py:138-140`): one dictionary over
    * the catalog/connector occurrences — inputs' `connectorId` field + the
    * first segment of 3-part table names.
    */
  def renameCatalogs(df: DataFrame, hashTokens: Boolean = false): DataFrame =
    if (hashTokens) rewrite(df, Seq(Catalogs -> hashDict(df, Catalogs)))
    else rename(df, Catalogs)

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
    if (hashTokens) df.withColumn("user", hashToken(col("user"), "user"))
    else rename(df, Users)
}
