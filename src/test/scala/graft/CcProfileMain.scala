package graft

import org.apache.spark.sql.functions._

/** Throwaway diagnostic (r22): time the RDD label-loop's pieces with
  * separate actions to localize the first count job's cost. Not library
  * surface; run via `Test/runMain graft.CcProfileMain`.
  */
object CcProfileMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[prof] $label ${(System.nanoTime() - t0) / 1e9}%.3fs")
      r
    }
    val pairs = graft.queries.MLQueries.hammingPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val p = t("pairs ckpt")(graft.ml.Components.ckpt(pairs))
    t("pairs count")(p.count())
    // now the RDD bridge, step by step, separate actions (warm twice)
    for (pass <- 1 to 2) {
      val rdd = t(s"p$pass: p.rdd build")(p.rdd.map(r => (r.getLong(0), r.getLong(1))))
      t(s"p$pass: pairs rdd count")(rdd.count())
      val part = new org.apache.spark.HashPartitioner(math.max(1, rdd.getNumPartitions))
      val sym = rdd.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      t(s"p$pass: sym count")(sym.count())
      val labels = sym.mapValues(_ => ()).reduceByKey(part, (_, _) => ())
        .mapPartitions(_.map { case (id, _) => (id, id) }, preservesPartitioning = true)
      t(s"p$pass: labels init count")(labels.count())
      val contribs = sym.map { case (src, dst) => (dst, src) }
        .join(labels, part)
        .map { case (_, (src, comp)) => (src, comp) }
      t(s"p$pass: contribs count")(contribs.count())
      val stepped = contribs.union(labels).reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      t(s"p$pass: stepped count")(stepped.count())
      val jumped = stepped
        .map { case (id, comp) => (comp, id) }
        .leftOuterJoin(stepped, part)
        .map { case (comp, (id, pc)) => (id, pc.getOrElse(comp)) }
        .partitionBy(part)
      t(s"p$pass: jumped count")(jumped.count())
      val contracted = sym
        .join(jumped, part)
        .map { case (_, (dst, csrc)) => (dst, csrc) }
        .join(jumped, part)
        .flatMap { case (_, (csrc, cdst)) =>
          if (csrc != cdst) Iterator((csrc, cdst)) else Iterator.empty }
      t(s"p$pass: contracted count")(contracted.count())
    }
    spark.stop()
  }
}
/** Per-job and per-stage latency probe of `Components.minLabel` over the
  * hamming pairs of `args(0)` (default sf0.1): two passes, each job's and
  * stage's duration printed to stderr. Not library surface; run via
  * `Test/runMain graft.CcLoopJobsMain`.
  */
object CcLoopJobsMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.scheduler._
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStart.put(j.jobId, System.nanoTime())
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val t0 = jobStart.getOrDefault(j.jobId, 0L)
        if (t0 > 0)
          System.err.println(f"[job] id=${j.jobId} ${(System.nanoTime() - t0) / 1e9}%.3fs")
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val info = s.stageInfo
        val dur = for {
          a <- info.submissionTime; b <- info.completionTime
        } yield (b - a) / 1e3
        System.err.println(f"[stage] ${info.stageId}%4d ${info.name.split(" at ").head}%-24s tasks=${info.numTasks}%3d ${dur.getOrElse(-1.0)}%.3fs")
      }
    })
    import org.apache.spark.sql.functions._
    for (pass <- 1 to 2) {
      val pairs = graft.queries.MLQueries.hammingPairs(spark, sfDir)
        .select(col("doc_a"), col("doc_b"))
      System.err.println(s"=== pass $pass minLabel ===")
      val t0 = System.nanoTime()
      val res = graft.ml.Components.minLabel(pairs)
      res.labels.write.format("noop").mode("overwrite").save()
      System.err.println(f"=== pass $pass total ${(System.nanoTime() - t0) / 1e9}%.3fs ===")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}

object SimhashProfileMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[sh] $label ${(System.nanoTime() - t0) / 1e9}%.3fs")
      r
    }
    for (pass <- 1 to 3) {
      val nib = t(s"p$pass nib construct (plan only)")(
        graft.queries.MLQueries.simhashNib(spark, sfDir))
      t(s"p$pass nib executedPlan")(nib.queryExecution.executedPlan)
      t(s"p$pass nib noop")(nib.write.format("noop").mode("overwrite").save())
      t(s"p$pass nib localCheckpoint eager")(nib.localCheckpoint(true))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
