package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The entry points' shared configuration: one session recipe, one gate
  * selector, and one option check for every `Pipeline` subcommand. No
  * Spark work: each case fails (or not) before a session would start.
  */
class EntryPointsSpec extends AnyFunSuite {

  private def sources(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  test("SparkSession is built only by the recipe") {
    // split so this file does not match itself
    val builder = "SparkSession" + ".builder"
    val builders = (sources("src/main/scala") ++ sources("src/test/scala"))
      .filter(p => Files.readString(p).contains(builder))
      .map(_.toString)
    assert(builders === Seq("src/main/scala/graft/Sessions.scala"))
  }

  test("one ImageIO read loop and one fixture resolver in src/main") {
    def uses(token: String): Map[String, Int] =
      sources("src/main/scala").map { p =>
        val n = Files.readString(p).split(java.util.regex.Pattern.quote(token), -1).length - 1
        p.toString -> n
      }.filter(_._2 > 0).toMap
    assert(uses("getImageReaders") === Map("src/main/scala/graft/ml/Multimodal.scala" -> 1))
    assert(uses(".getResource(") === Map("src/main/scala/graft/queries/NamedQuery.scala" -> 1))
  }

  test("SPARK_GRAFT_CPUS must be a positive int, blank means unset") {
    assert(Sessions.positiveInt("SPARK_GRAFT_CPUS", Some(" 3 ")) === Some(3))
    assert(Sessions.positiveInt("SPARK_GRAFT_CPUS", Some("  ")) === None)
    assert(Sessions.positiveInt("SPARK_GRAFT_CPUS", None) === None)
    for (bad <- Seq("four", "0", "-2", "2.5")) {
      val e = intercept[IllegalArgumentException](
        Sessions.positiveInt("SPARK_GRAFT_CPUS", Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("select: no names selects the whole registry in name order") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    for (csv <- Seq("", " ", ",", " , ,"))
      assert(SparkEntry.select(csv) === all, s"'$csv'")
  }

  test("select: blank tokens are dropped, names come back sorted") {
    val Seq(a, b) = SparkEntry.queries.keys.toSeq.sorted.take(2)
    assert(SparkEntry.select(s"$b, ,$a") === Seq(a, b))
    assert(SparkEntry.select(s" $a ,$a") === Seq(a))
  }

  test("select: an unknown name fails and is named") {
    val a = SparkEntry.queries.keys.min
    val e = intercept[IllegalArgumentException](SparkEntry.select(s"$a,no_such_gate"))
    assert(e.getMessage.contains("no_such_gate"), e.getMessage)
    assert(!e.getMessage.contains(a), e.getMessage)
  }

  private def rejects(cmd: String, opts: String*): String =
    intercept[IllegalArgumentException](Pipeline.options(cmd, opts.toList)).getMessage

  test("options: an unknown flag fails and is named") {
    // a typo'd `--rename-schemas` would ship un-obfuscated schema names
    assert(rejects("process", "--rename-user", "--rename-schema").contains("'--rename-schema'"))
    assert(rejects("report", "--color-blind").contains("'--color-blind'"))
    assert(rejects("extract", "--limt", "5").contains("'--limt'"))
    // a stray positional is not a flag either
    assert(rejects("analyze", "extra").contains("'extra'"))
    assert(rejects("featurize", "--frames", "4").contains("'--frames'"))
    for (cmd <- Seq("collect", "process-raw", "ann", "profile", "curate", "stream"))
      assert(rejects(cmd, "--nope").contains("'--nope'"), cmd)
  }

  test("options: a valued flag needs a value, and a flag is not one") {
    assert(rejects("extract", "--limit").contains("--limit needs a value"))
    // `--filter --fail-on-error` must not filter to an analyzer named
    // `--fail-on-error` and write 0/0 tables
    assert(rejects("analyze", "--filter", "--fail-on-error").contains("--filter needs a value"))
    assert(rejects("process-raw", "--filter-schema", "--limit", "3")
      .contains("--filter-schema needs a value"))
    assert(rejects("collect", "--delay").contains("--delay needs a value"))
  }

  test("analyze --filter: a name that is no analyzer fails and is named") {
    // the reference runs nothing and exits 0 (analyze.py:1242); the input
    // path does not exist, so reaching a session would fail differently
    val e = intercept[IllegalArgumentException](Pipeline.main(Array(
      "analyze", "no/such/summaries", "no/such/out", "--filter", "nosuch")))
    assert(e.getMessage.contains("'nosuch'"), e.getMessage)
    assert(graft.analyze.Analyzers.all(null).contains("operator_wall"))
  }

  test("options: values in any position, repeatable flags kept in order") {
    val e = Pipeline.options("extract", List("--limit", "7"))
    assert(e.value("--limit") === Some("7"))
    val a = Pipeline.options("analyze", List("--fail-on-error", "--limit", "5", "--filter", "metrics"))
    assert(a.value("--limit") === Some("5") && a.value("--filter") === Some("metrics"))
    assert(a.has("--fail-on-error"))
    val p = Pipeline.options("process", List("--filter-user", "u1", "--rename-user",
      "--filter-schema", "s1", "--filter-user", "u2", "--rename-array", "tags",
      "--rename-array", "labels"))
    assert(p.valued === List("--filter-user" -> "u1", "--filter-schema" -> "s1",
      "--filter-user" -> "u2", "--rename-array" -> "tags", "--rename-array" -> "labels"))
    assert(p.has("--rename-user") && !p.has("--rename-schemas"))
    // a short flag's value may start with one dash
    assert(Pipeline.options("collect", List("-u", "me", "-p", "-secret"))
      .value("-p") === Some("-secret"))
  }
}
