package graft

import graft.analyze.{AnalyzerRunner, Analyzers}
import graft.ingest.{Extract, QueryInfoCorpus, WorkloadViews}
import graft.queries.AnalyzerGates
import graft.report.Report

/** The presentation artifact: every analyzer gets an inline SVG chart,
  * the bytes are identical across runs, and the colorblind palette switch
  * mirrors the reference's option (analyze.py:708-713).
  */
class ReportSpec extends SparkSpec {

  private def views = WorkloadViews(spark.read.parquet(AnalyzerGates.fixtureDir))

  test("report carries one inline SVG per analyzer and is byte-identical") {
    val html = Report.render(views)
    val analyzers = graft.analyze.Analyzers.all(views).size
    assert(countSvg(html) === analyzers)
    // deterministic presentation: a second render is the same bytes
    assert(Report.render(views) === html)
    // every chart family is represented over the fixture workload
    assert(html.contains("<path d=\"M"))  // pie slices
    assert(html.contains("<rect x=\""))   // bars / legends
    assert(html.contains("<circle cx=")) // scatter points
  }

  test("write: a .zip target wraps the HTML as the reference's output.html entry") {
    // analyze.py:1284-1292 parity: suffix-dispatched sink — `.zip` wraps
    // the artifact as a single DEFLATE entry named output.html, `.html`
    // writes verbatim, anything else is rejected. Round-tripped through
    // real ZipFile/Files reads, same bytes both ways.
    val html = Report.render(views)
    val dir = java.nio.file.Files.createTempDirectory("report_zip").toFile
    val zipPath = new java.io.File(dir, "out.zip").getAbsolutePath
    val htmlPath = new java.io.File(dir, "out.html").getAbsolutePath
    Report.write(zipPath, html)
    Report.write(htmlPath, html)
    val zf = new java.util.zip.ZipFile(zipPath)
    try {
      val entries = zf.entries()
      val e = entries.nextElement()
      assert(e.getName === "output.html", "the reference's fixed member name")
      assert(!entries.hasMoreElements, "exactly one entry")
      val bytes = zf.getInputStream(e).readAllBytes()
      assert(new String(bytes, java.nio.charset.StandardCharsets.UTF_8) === html)
    } finally zf.close()
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(htmlPath)) === html)
    // any other suffix is rejected like the reference's ValueError
    // (analyze.py:1291-1292) — round 17, ADVICE item
    intercept[IllegalArgumentException](
      Report.write(new java.io.File(dir, "out.pdf").getAbsolutePath, html))
  }

  test("interactive shell: hover payloads on marks, one self-contained script") {
    val html = Report.render(views)
    // every mark family carries a hover payload for the JS tooltip
    assert("""<path [^>]*data-l="""".r.findAllIn(html).nonEmpty, "pie slices")
    assert("""<rect [^>]*data-l="""".r.findAllIn(html).nonEmpty, "bars")
    assert("""<circle [^>]*data-l="""".r.findAllIn(html).nonEmpty, "scatter dots")
    // exactly one embedded script, and the artifact stays self-contained:
    // no external script/style/img references anywhere
    assert("<script>".r.findAllIn(html).size === 1)
    assert(!html.contains("src=\"http"), "no CDN script")
    assert(!html.contains("href=\"http"), "no external stylesheet")
    // the zoom/pan handlers target the charts and reset on dblclick
    assert(html.contains("svg.chart") && html.contains("wheel")
      && html.contains("dblclick"))
    // tooltip payloads are attribute-escaped — a key containing a quote
    // must never break out of data-l (fixture keys are clean; this pins
    // the escape path itself)
    assert(!"""data-l="[^"]*<""".r.findAllIn(html).hasNext)
    // legend toggles (round 12): every pie wedge carries the slice index
    // its legend entry toggles, legend entries are clickable groups, and
    // the script wires the hide/show handler
    assert("""<path [^>]*data-s="""".r.findAllIn(html).nonEmpty, "wedge slice index")
    assert("""<g class="lg" data-s="""".r.findAllIn(html).nonEmpty, "legend groups")
    assert(html.contains("g.lg[data-s]") && html.contains("display"))
    // every legend group toggles an existing wedge: the data-s sets match
    // within each pie svg
    val pies = """<svg class="chart"[^>]*>.*?</svg>""".r.findAllIn(html)
      .filter(_.contains("class=\"lg\""))
    pies.foreach { svg =>
      val wedges = """(?<=<path |<circle )[^>]*data-s="(\d+)"""".r
        .findAllMatchIn(svg).map(_.group(1)).toSet
      val entries = """<g class="lg" data-s="(\d+)"""".r
        .findAllMatchIn(svg).map(_.group(1)).toSet
      assert(wedges.subsetOf(entries),
        s"wedges without a legend entry: ${wedges -- entries}")
    }
  }

  test("axis-linked zoom: exactly the time-grain trends share a link group") {
    val html = Report.render(views)
    // B1/B3/B5 by-date and B2/B4/B6 by-hour: three charts per group, and
    // NOTHING else carries a link key — selectivity histograms and
    // scatters have per-chart data-dependent axis domains, so linking
    // them geometrically would map one pixel window to different data
    // windows (the dishonest-link case linkGroup's scaladoc records)
    assert("""data-link="date"""".r.findAllIn(html).size === 3)
    assert("""data-link="hour"""".r.findAllIn(html).size === 3)
    // count carrier TAGS (the embedded script also spells data-link=" in
    // its sibling-lookup selector — markup only here)
    assert("""<svg class="chart" data-link=""".r.findAllIn(html).size === 6)
    // the script wires the shared-x propagation: sibling lookup by group
    // key, x components only (each chart keeps its own y window)
    assert(html.contains("data-link") && html.contains("linkX"))
    assert(html.contains("""[vb[0], ovb[1], vb[2], ovb[3]]"""))
    // linked charts are bar trends with identical geometry — the
    // precondition for a shared viewBox x-window meaning the same time
    // window on every member
    """<svg class="chart" data-link[^>]*>""".r.findAllIn(html).foreach { tag =>
      assert(tag.contains("""viewBox="0 0 470 160""""), s"unexpected geometry: $tag")
    }
  }

  test("linked trends stay bucket-aligned when a measure is null for a bucket") {
    import spark.implicits._
    import graft.model.QuerySummary
    // two days; day 2's only summary has input_size = None, so
    // input_by_date's sum is NULL for that bucket while queries_by_date
    // counts it. Dropping the null row would shift input_by_date's bars
    // left and the shared x-window would point at different days across
    // the linked group — the linked path must keep the slot instead.
    def s(id: String, input: Option[Double]) = QuerySummary("q", id, "u",
      "FINISHED", None, None, None, None, Some(3600.0), None, input, None,
      None, None, None, None, None, None, Seq(), Seq(), Seq(), Seq())
    val v = WorkloadViews(Seq(
      s("20220101_000000_00001_aaaaa", Some(1e12)),
      s("20220102_000000_00002_bbbbb", None)).toDS().toDF())
    val html = Report.render(v)
    def barsOf(group: String, section: String): Int = {
      val sec = html.split(s"""<h2 id="$section"""")(1).split("</section>")(0)
      """<rect [^>]*data-l=""".r.findAllIn(sec).size
    }
    val nQueries = barsOf("date", "queries_by_date")
    val nInput = barsOf("date", "input_by_date")
    assert(nQueries === 2 && nInput === 2,
      s"linked by-date charts desynced: queries=$nQueries input=$nInput")
    // the null bucket is explicit, not a fabricated measurement
    assert(html.contains("(null)"))
  }

  test("every section carries export links wired to the embedded script") {
    val html = Report.render(views)
    val analyzers = graft.analyze.Analyzers.all(views).size
    // one csv link per non-empty section; png only where a chart rendered
    // (over the fixture every analyzer renders a chart, so both equal the
    // analyzer count; the script's selectors spell "a.dl-…", so these
    // patterns count markup only)
    assert(""""dl-csv"""".r.findAllIn(html).size === analyzers)
    assert(""""dl-png"""".r.findAllIn(html).size === countSvg(html))
    // the serializers live in the single embedded script, so the artifact
    // stays self-contained (no data: duplication of table contents)
    assert(html.contains("text/csv") && html.contains("image/png"))
    assert(!html.contains("data:text/csv"), "CSV must not be duplicated inline")
    assert("<script>".r.findAllIn(html).size === 1)
  }

  test("--colorblind swaps the palette without changing the chart count") {
    val default = Report.render(views)
    val cb = Report.render(views, colorblind = true)
    assert(countSvg(cb) === countSvg(default))
    assert(default.contains("#1f77b4") && !default.contains("#0072b2"))
    assert(cb.contains("#0072b2") && !cb.contains("#1f77b4"))
  }

  test("analyzer runner: concurrent, results in name order whatever order they finish") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import scala.jdk.CollectionConverters._
    // c finishes first, then b, then a: each analyzer waits for the next
    // name to finish, so a serial runner would stall on "a" and fail
    val done = Seq("a", "b", "c").map(_ -> new CountDownLatch(1)).toMap
    val finished = new ConcurrentLinkedQueue[String]()
    def analyzer(after: Option[String]) = () => {
      after.foreach(n => assert(done(n).await(60, TimeUnit.SECONDS), s"$n never finished"))
      spark.range(1).toDF()
    }
    val results = AnalyzerRunner.run(Map(
        "a" -> analyzer(Some("b")), "b" -> analyzer(Some("c")), "c" -> analyzer(None))) {
      (name, df) =>
        df.collect()
        finished.add(name)
        done(name).countDown()
        name
    }
    assert(finished.asScala.toSeq === Seq("c", "b", "a"))
    assert(results.map { case (n, r) => (n, r.get) } === Seq("a" -> "a", "b" -> "b", "c" -> "c"))
  }

  test("a throwing analyzer renders its own failed: section and the others still render") {
    val v = views
    def failed(name: String, msg: String) = s"""<section><h2 id="$name">$name</h2>""" +
      s"\n<p class=\"empty\">failed: $msg</p>\n</section>\n"
    val boom = failed("aaa_boom", "boom")
    // an exception without a message names its class instead
    val nullMsg = failed("aab_null", "java.lang.RuntimeException")
    val html = Report.render(v, colorblind = false, Analyzers.all(v) +
      ("aaa_boom" -> (() => throw new IllegalStateException("boom"))) +
      ("aab_null" -> (() => throw new RuntimeException())))
    assert(html.contains(boom) && html.contains(nullMsg))
    // every other section is exactly what the plain report renders
    assert(html.replace(boom, "").replace(nullMsg, "") === Report.render(v))
  }

  /** One QueryInfoCorpus window rendered from a 1- and a 4-partition base. */
  private def rendersEqualAcrossPartitions(docs: Range): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("report_partitions")
    val raw = java.nio.file.Files.createDirectory(tmp.resolve("raw"))
    docs.foreach(i => java.nio.file.Files.writeString(
      raw.resolve(s"q$i.json"), QueryInfoCorpus.documentBytes(i.toLong)))
    Extract.writeParquet(Extract.extract(spark, raw.toString), s"$tmp/summary")
    val summaries = spark.read.parquet(s"$tmp/summary")
    val one = WorkloadViews(summaries.coalesce(1))
    // force a four-partition base through the session's AQE size confs
    val confs = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val four = try {
      confs.foreach(spark.conf.set(_, "1k"))
      WorkloadViews(summaries.repartition(4))
    } finally confs.foreach(spark.conf.unset)
    assert(one.base.rdd.getNumPartitions === 1 && four.base.rdd.getNumPartitions === 4)
    assert(Report.render(four) === Report.render(one))
  }

  test("one corpus window renders the same bytes from a 1- and a 4-partition base") {
    // one 100-document QueryInfoCorpus window: its selectivity percents are
    // sums over the partitions (the gate fixture is quarter-exact by design
    // and cannot show a drift)
    rendersEqualAcrossPartitions(66100 until 66200)
  }

  test("the seed-710 window renders the same bytes from a 1- and a 4-partition base") {
    // a double sum here rounded one `%.4f` cell (scheduled_by_date
    // 2026-04-02) differently with the summation order; every analyzer
    // sum is exact (decimal or long) and divided once
    rendersEqualAcrossPartitions(71000 until 71100)
  }

  /** The job group of every Spark job one `Report.render(v)` submits. */
  private def reportJobGroups(v: WorkloadViews): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(l)
    sc.setJobGroup("report-spec", "analyzer runner job group")
    try {
      Report.render(v)
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
    groups.asScala.toSeq
  }

  test("every report job carries the caller's job group") {
    // the bench attributes jobs to layers by job group; the runner's
    // threads must inherit the caller's group at call time
    val groups = reportJobGroups(views)
    assert(groups.nonEmpty)
    assert(groups.toSet === Set("report-spec"))
  }

  test("a report runs one job per grain, not one per analyzer") {
    // the six aggregate grains, six row-grain jobs (the shared scatter
    // head, filter_selectivity_1, the *_vs_selectivity pair and the joins_*
    // pair) and at most one build of each cached view (base, operators,
    // scans, joins); one job per analyzer would be 28 or more
    val v = views
    val bound = Analyzers.grains(v).size + 6 + 4
    val jobs = reportJobGroups(v).size
    info(s"$jobs report jobs")
    assert(jobs <= bound, s"$jobs report jobs, more than $bound")
  }

  private def countSvg(html: String): Int = "<svg".r.findAllIn(html).size
}
