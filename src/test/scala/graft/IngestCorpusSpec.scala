package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{QueryInfoCorpus, QueryInfoParser}

/** Keeps the ingest-census fixture pair honest (the JpegGateSpec role
  * for the corpus gate): the judged oracle is the committed
  * expected-census sheet computed from GENERATOR bookkeeping, and these
  * tests (a) re-derive a sampled slice through the RAW parser — no
  * Spark, the pure JSON-walk — proving bookkeeping == flatten on real
  * parses, (b) pin every drop class end-to-end, and (c) pin the
  * committed sheet equal to a fresh bookkeeping run, so a hand-edited
  * fixture or a generator drift fails loudly.
  */
class IngestCorpusSpec extends AnyFunSuite {

  test("sampled documents: raw-parser flatten equals generator bookkeeping") {
    // a deterministic spread of docs covering every residue the shape
    // streams branch on (fate classes, FAILED, table-handle shapes)
    val sample = (0L until 400L) ++ Seq(997L, 2024L, 5555L, 9999L)
    sample.foreach { i =>
      val (json, books) = QueryInfoCorpus.document(i)
      val parsed = QueryInfoParser.parse(
        if (QueryInfoCorpus.fate(i) == QueryInfoCorpus.CorruptJson)
          json.take(json.length / 2)
        else json)
      QueryInfoCorpus.fate(i) match {
        case QueryInfoCorpus.Parsed =>
          val s = parsed.getOrElse(fail(s"doc $i should parse"))
          assert(s.plan_nodes.length === books.length, s"doc $i node count")
          s.plan_nodes.zip(books).foreach { case (n, b) =>
            assert(n.node_type === b.nodeType, s"doc $i type @${b.dfsOrder}")
            assert(n.dfs_order === b.dfsOrder, s"doc $i dfs_order")
            assert(n.depth === b.depth, s"doc $i depth @${b.dfsOrder}")
            assert(n.subtree_end === b.subtreeEnd, s"doc $i subtree @${b.dfsOrder}")
            assert(n.fragment_idx === b.fragmentIdx, s"doc $i fragment @${b.dfsOrder}")
            assert(n.table_name === b.tableName, s"doc $i table @${b.dfsOrder}")
          }
          assert((s.state == "FAILED") === QueryInfoCorpus.failed(i), s"doc $i state")
        case _ =>
          assert(parsed.isEmpty, s"doc $i (${QueryInfoCorpus.fate(i)}) must drop")
          assert(books.isEmpty, s"doc $i bookkeeping must be empty when dropped")
      }
    }
  }

  test("drop classes are exercised and mutually exclusive") {
    val fates = (0L until QueryInfoCorpus.NDocs.toLong)
      .map(QueryInfoCorpus.fate).groupBy(identity).view.mapValues(_.size).toMap
    assert(fates(QueryInfoCorpus.CorruptJson) === 100)
    assert(fates(QueryInfoCorpus.InternalQuery) === 100)
    assert(fates(QueryInfoCorpus.MissingInputs) === 100)
    assert(fates(QueryInfoCorpus.MalformedOperator) === 100)
    assert(fates(QueryInfoCorpus.Parsed) === 9600)
    // FAILED docs parse (ingest keeps them; ANALYZE filters them)
    val nFailed = (0L until QueryInfoCorpus.NDocs.toLong)
      .count(QueryInfoCorpus.failed)
    assert(nFailed > 500, s"FAILED class too thin: $nFailed")
  }

  test("committed expected sheet equals a fresh bookkeeping census") {
    // guards the committed fixture against hand edits AND the generator
    // against version drift without a fixture regen (Version must bump
    // with shape changes). Bookkeeping over all 10k docs is pure
    // in-memory arithmetic — a few seconds, no Spark.
    val fresh = QueryInfoCorpus.expectedCensus()
      .map(r => (r.nodeType, r.nNodes, r.nQueries, r.checksum, r.tableCrcSum))
    val committed = SparkSpec.session.read
      .parquet(s"${graft.queries.IngestQueries.censusFixtureDir}/expected.parquet")
      .collect()
      .map(r => (r.getAs[String]("node_type"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("n_queries"), r.getAs[Long]("checksum"),
        r.getAs[Long]("table_crc_sum")))
      .sortBy(_._1).toSeq
    assert(committed === fresh,
      "committed sheet drifted from QueryInfoCorpus bookkeeping — if the " +
        "document shapes changed deliberately, bump Version and regenerate: " +
        "sbt \"Test/runMain graft.IngestCensusFixtureGen\"")
  }

  test("every table-handle shape resolves and is exercised") {
    // the five connector-handle spellings of the reference
    // (analyze.py:564-584) must all appear in the parsed sample and
    // carry the generator's resolved name through the parser
    val shapes = (0L until 500L).flatMap { i =>
      if (QueryInfoCorpus.fate(i) != QueryInfoCorpus.Parsed) Nil
      else QueryInfoCorpus.document(i)._2.flatMap(_.tableName)
    }
    val prefixes = shapes.map(_.takeWhile(_ != '.')).toSet
    assert(Set("hive", "iceberg", "delta", "jmx", "memory").subsetOf(prefixes),
      s"missing handle shapes: got $prefixes")
  }

  test("ensure publishes atomically: a partial directory is replaced, a winner is kept") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("qi_corpus")
    val d = root.resolve("corpus")
    def names(p: java.nio.file.Path) = p.toFile.list().toSeq.sorted
    // a directory without _SUCCESS (an interrupted writer) is replaced
    Files.createDirectories(d)
    Files.writeString(d.resolve("junk"), "x")
    assert(QueryInfoCorpus.ensure(d.toString, 3) === d.toString)
    assert(names(d) === Seq("_SUCCESS", "q00000.json.gz", "q00001.json.gz", "q00002.json.gz"))
    assert(names(root) === Seq("corpus"), "no temp sibling left behind")
    // losing the rename to another JVM's complete corpus keeps the winner's
    val loser = Files.createDirectory(root.resolve("loser"))
    Files.writeString(loser.resolve("_SUCCESS"), "99\n")
    QueryInfoCorpus.publish(loser, d)
    assert(Files.readString(d.resolve("_SUCCESS")) === "3\n")
    assert(Files.exists(loser), "the loser's copy is left for its caller to discard")
  }
}
