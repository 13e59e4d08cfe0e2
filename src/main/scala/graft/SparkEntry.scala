package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{AnalyzerGates, CoreQueries, CurationQueries, IngestQueries, MLQueries, NamedQuery, SketchQueries}
import graft.tables.Tables

/** The entry-point contract of the judged surfaces, read by [[Verify]] and
  * [[Bench]]:
  *  - `entry`: one flagship query over the sf0.001 tables, smoke-checked
  *    for a non-empty result;
  *  - `queries`: every judged gate, name → `(session, sfDir) => DataFrame`;
  *  - `select`: the gate names a comma list picks (none named → all), an
  *    unknown name refused before any Spark work;
  *  - `oracleSql`: for each gate that has one, DuckDB SQL over the same
  *    parquet tables whose result must hash equal to the gate's
  *    (`tools/compare.py`).
  */
object SparkEntry {

  /** Registry of all judged queries; families contribute NamedQuery seqs. */
  private def registry: Seq[NamedQuery] =
    CoreQueries.all ++ MLQueries.all ++ CurationQueries.all ++
      SketchQueries.all ++ AnalyzerGates.all ++ IngestQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 shape (the reference's operator_wall aggregation pattern).
    */
  def entry(spark: SparkSession): DataFrame =
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice")).as("sum_price"),
        avg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** The gates a comma list names, in name order: blank tokens are
    * dropped, and a list that names none (unset, empty or blank) selects
    * the whole registry. An unknown name fails here, before any Spark work.
    */
  def select(csv: String): Seq[String] = {
    val known = queries.keySet
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- known
    require(unknown.isEmpty, s"unknown gate names: ${unknown.toSeq.sorted.mkString(",")}")
    (if (names.isEmpty) known else names).toSeq.sorted
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
