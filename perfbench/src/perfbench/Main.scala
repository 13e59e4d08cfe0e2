package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Operation bookkeeping of a run: every check adds its attempted and
  * failed operations, and a failed one names itself in `problems`.
  */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  def check(what: String, attempted: Long, failed: Long): Unit = {
    this.attempted += attempted
    this.failed += failed
    if (failed != 0) problems += s"$what: $failed of $attempted failed"
  }

  def expect(what: String, expected: Any, actual: Any): Unit =
    if (expected == actual) check(what, 1, 0)
    else { check(what, 1, 1); problems += s"$what: expected $expected, got $actual" }
}

/** What a pass leaves for the checks and the per-layer figures. */
final class PassOut {
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var digest: String = ""
}

/** Runs one workload: set-up, then closed-loop passes (one client, one pass
  * at a time) until `--seconds` have elapsed, at least one. Every pass starts
  * from the same state: previous outputs deleted, caches cleared, a GC run,
  * all outside the timed window. The first pass of a run is JIT-cold, as it
  * is for every invocation of the `graft.Pipeline` CLI.
  *
  * Prints one line `PERFBENCH {json}` with the result.
  */
object Main {

  /** The `graft.Pipeline` CLI's session confs under `local[nproc]`, with
    * every scratch path kept under the run's work directory.
    */
  def session(work: String): SparkSession = {
    val n = Machine.nproc
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Exits explicitly: the stub coordinator's dispatcher thread must not
    * keep a failed run alive.
    */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private val SetupRepeats = 3

  /** Notes on standard error how far into the JVM's life a phase ended. */
  private def phase(what: String): Unit =
    System.err.println(f"perfbench: $what%s done at ${
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.2f s")

  private final case class Pass(e2eS: Double, cpuS: Double, jitS: Double, gcS: Double,
      heapMb: Double, layer: Map[String, Double], steal: Double, load1: Double)

  /** A number as JSON: NaN and infinities have no JSON form. */
  private def num(d: Double): AnyRef = if (d.isNaN || d.isInfinite) null else Double.box(d)

  private def jmap(kv: (String, AnyRef)*): java.util.Map[String, AnyRef] = {
    val m = new java.util.LinkedHashMap[String, AnyRef]
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def jlist(xs: Iterable[AnyRef]): java.util.List[AnyRef] =
    java.util.Arrays.asList(xs.toSeq: _*)

  private def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = new File(args("work")).getAbsolutePath
    val runId = s"$name-$seed-${ProcessHandle.current().pid()}"

    // set-up: JVM start once, then session start and input generation
    // SetupRepeats times, each from a stopped session; the run keeps the
    // last and reports the median, so one slow set-up does not decide it
    val jvmStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    var spark: SparkSession = null
    var wl: Lifecycle = null
    val setupTimes = (1 to SetupRepeats).map { _ =>
      if (wl != null) { wl.close(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(work)
      wl = Workloads(name, spark, seed, work)
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = jvmStartS + median(setupTimes)
    val sc = spark.sparkContext
    phase("set-up")

    val out = s"$work/pass"
    val ops = new Ops
    val passes = mutable.ArrayBuffer.empty[Pass]
    val digests = mutable.LinkedHashSet.empty[String]
    val spans = mutable.ArrayBuffer.empty[AnyRef]
    val steal0 = Machine.stealSeconds()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (passes.isEmpty || System.nanoTime() < deadline) {
      deleteTree(new File(out))
      spark.catalog.clearCache()
      System.gc()
      val o = new PassOut
      val t = new Tracer(sc, s"$runId-p${passes.size}", listen = trace)
      val stealA = Machine.stealSeconds()
      val cpu0 = Machine.processCpuSeconds()
      val jit0 = Machine.jitSeconds()
      val gc0 = Machine.gcSeconds()
      val p0 = System.nanoTime()
      t.span("pass")(wl.pass(t, out, o))
      val e2e = (System.nanoTime() - p0) / 1e9
      val cpu = Machine.processCpuSeconds() - cpu0
      val jit = Machine.jitSeconds() - jit0
      val gc = Machine.gcSeconds() - gc0
      val steal = Machine.stealSeconds() - stealA
      val heapMb = Machine.retainedOldGenMb()
      t.drain()
      t.close()
      phase(s"pass ${passes.size}")
      wl.check(out, o, ops)
      digests += o.digest
      phase(s"check ${passes.size}")
      if (trace) spans ++= t.spans.map { s =>
        val st = t.stats(s)
        jmap("name" -> s.name, "id" -> Int.box(s.id), "parent" -> Int.box(s.parent),
          "run" -> s.runId, "start_ms" -> Long.box(s.startMs), "end_ms" -> Long.box(s.endMs),
          "wall_s" -> num(s.wallS), "self_s" -> num(t.selfS(s)), "driver_s" -> num(t.driverS(s)),
          "jobs" -> Long.box(st.jobs), "stages" -> Long.box(st.stages), "tasks" -> Long.box(st.tasks),
          "task_cpu_s" -> num(st.taskCpuNs / 1e9))
      }
      val layer = if (trace) Layers.metrics(t, o) else Map.empty[String, Double]
      passes += Pass(e2e, cpu, jit, gc, heapMb, layer, steal, Machine.load1())
    }
    deleteTree(new File(out))
    wl.close()
    if (digests.size != 1) ops.expect("result digest stable across passes", 1, digests.size)

    def med(f: Pass => Double) = median(passes.map(f).toSeq)
    val e2e = Seq(
      "setup_s" -> setupS,
      "e2e_s" -> med(_.e2eS),
      "docs_per_s" -> med(p => wl.docsIn / p.e2eS),
      "proc_cpu_s" -> med(_.cpuS),
      "ops_ok_ratio" -> (1.0 - ops.failed.toDouble / math.max(1L, ops.attempted)))
    val layers =
      (if (trace) passes.head.layer.keys.toSeq.sorted.map(k => k -> med(_.layer(k))) else Nil) ++
        Seq("trace.e2e_s" -> med(_.e2eS),
          "setup.first_s" -> (jvmStartS + setupTimes.head),
          "jvm.heap_retained_mb" -> med(_.heapMb),
          "jvm.jit_s" -> med(_.jitS),
          "jvm.gc_s" -> med(_.gcS),
          "machine.nproc" -> Machine.nproc.toDouble,
          "machine.steal_s" -> (Machine.stealSeconds() - steal0),
          "machine.load1" -> Machine.load1())
    val result = jmap(
      "correct" -> Boolean.box(ops.failed == 0),
      "attempted" -> Long.box(ops.attempted),
      "failed" -> Long.box(ops.failed),
      "workload" -> name,
      "seed" -> Long.box(seed),
      "digest" -> digests.mkString(","),
      "problems" -> jlist(ops.problems),
      "machine" -> jmap(
        "nproc" -> Int.box(Machine.nproc),
        "steal_s_per_pass" -> jlist(passes.map(p => num(p.steal))),
        "load1_per_pass" -> jlist(passes.map(p => num(p.load1)))),
      "e2e_s_per_pass" -> jlist(passes.map(p => num(p.e2eS))),
      "setup_s_per_repeat" -> jlist(setupTimes.map(num)),
      "end_to_end" -> jmap(e2e.map { case (k, v) => k -> num(v) }: _*),
      "per_layer" -> jmap(layers.map { case (k, v) => k -> num(v) }: _*),
      "spans" -> jlist(spans))
    spark.stop()
    phase("run")
    println("PERFBENCH " + new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(result))
  }
}

/** Per-layer figures of one traced pass, from the spans named after the
  * product's modules and the Spark work charged to them.
  */
object Layers {
  private val Names = Seq("collect", "ingest", "process", "report", "queries")

  /** Figures a workload sets itself; a layer it does not run reports 0. */
  private val Own = Seq("collect.requests", "collect.bytes_mb", "collect.ms_per_doc",
    "collect.failed", "ingest.records_out", "ingest.dropped", "report.cached_mb",
    "report.html_kb", "report.sections_failed", "queries.failed")

  def metrics(t: Tracer, o: PassOut): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    Own.foreach(m(_) = 0.0)
    Names.foreach { l =>
      val ss = t.spans.filter(_.name == l).toSeq
      val st = new GroupStats
      ss.foreach(s => st.add(t.stats(s)))
      m(s"$l.wall_s") = ss.map(_.wallS).sum
      m(s"$l.jobs") = st.jobs.toDouble
      m(s"$l.stages") = st.stages.toDouble
      m(s"$l.tasks") = st.tasks.toDouble
      m(s"$l.task_run_s") = st.taskRunMs / 1000.0
      m(s"$l.task_cpu_s") = st.taskCpuNs / 1e9
      m(s"$l.driver_s") = ss.map(t.driverS).sum
      m(s"$l.shuffle_write_mb") = st.shuffleWriteB / 1048576.0
      m(s"$l.spill_mb") = st.spillB / 1048576.0
      m(s"$l.bytes_written_mb") = st.outputB / 1048576.0
    }
    def wall(span: String) = t.spans.filter(_.name == span).map(_.wallS).sum
    m("ingest.views_s") = wall("ingest.views")
    m("queries.construct_s") = wall("queries.construct")
    m("queries.action_s") = wall("queries.action")
    Seq("dedup", "sketch", "graph").foreach(f => m(s"queries.$f.wall_s") = wall(s"queries.$f"))
    m ++= o.layer
    m.toMap
  }
}
