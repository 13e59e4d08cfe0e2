package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe of every entry point (`Pipeline`, `Bench`,
  * `Verify`, `ExplainDump`) and of the test suite: shuffle partitions =
  * cores, AQE on, UTC, TIMESTAMP(NANOS) parquet readable from the first
  * load, no UI, log level WARN. One recipe means `Pipeline explain` audits
  * the plan `Bench` times.
  */
object Sessions {

  /** Cores of a local session: `SPARK_GRAFT_CPUS` when set, else every
    * core the JVM sees, at least 2 (the `local[nproc]` perfbench times).
    */
  def cpus: Int = positiveInt("SPARK_GRAFT_CPUS", sys.env.get("SPARK_GRAFT_CPUS"))
    .getOrElse(math.max(2, Runtime.getRuntime.availableProcessors()))

  /** An environment variable's positive int. Exported-but-blank means
    * unset; any other non-positive-int value fails naming the variable,
    * before any Spark work.
    */
  private[graft] def positiveInt(name: String, v: Option[String]): Option[Int] =
    v.map(_.trim).filter(_.nonEmpty).map { raw =>
      val n = raw.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive int, got '$raw'"))
      require(n > 0, s"$name must be a positive int, got $n")
      n
    }

  /** `local[cores]` with the recipe's confs. */
  def local(appName: String, cores: Int = cpus): SparkSession =
    apply(s"local[$cores]", cores, appName)

  def apply(master: String, cores: Int, appName: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // TIMESTAMP(NANOS) parquet must be readable from first load (see
      // Tables.ensureNanosAsLong, which only covers foreign sessions)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
