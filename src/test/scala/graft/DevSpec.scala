package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** graft.Dev argument parsing. Needs no Spark session: a bad command line
  * must be rejected with a message before any session starts. */
class DevSpec extends AnyFunSuite with Matchers {
  import Dev._

  test("Dev: every subcommand parses, defaulting the data dir") {
    parse(Seq("show", "k6_minhash_lsh")) should matchPattern {
      case Right(Show("k6_minhash_lsh", _)) => }
    parse(Seq("show", "k6_minhash_lsh", "sfdir")) shouldBe
      Right(Show("k6_minhash_lsh", "sfdir"))
    parse(Seq("show", "--parquet", "out/q")) shouldBe Right(ShowParquet("out/q"))
    parse(Seq("plans", "out", "after", "ep1_config_pipeline, k6_minhash_lsh")) should
      matchPattern { case Right(Plans("out", "after",
        Seq("ep1_config_pipeline", "k6_minhash_lsh"), _)) => }
    parse(Seq("plans", "out", "after", "k6_minhash_lsh", "sfdir")) shouldBe
      Right(Plans("out", "after", Seq("k6_minhash_lsh"), "sfdir"))
    parse(Seq("op_dissect")) should matchPattern { case Right(Dissect("op_dissect", _)) => }
    parse(Seq("l16_dissect", "sfdir")) shouldBe Right(Dissect("l16_dissect", "sfdir"))
  }

  test("Dev: plans without query names dumps the headline list, all registered") {
    val Right(Plans(_, _, names, _)) = parse(Seq("plans", "out", "base"))
    names shouldBe headline
    names should not be empty
    names.filterNot(SparkEntry.queries.contains) shouldBe empty
  }

  test("Dev: missing or unknown subcommands and arguments are rejected") {
    parse(Seq()) shouldBe Left("missing subcommand")
    parse(Seq("noop")) shouldBe Left("unknown subcommand: noop")
    parse(Seq("show")) shouldBe Left("bad arguments for show")
    parse(Seq("show", "no_such_query")) shouldBe Left("unknown queries: no_such_query")
    parse(Seq("show", "--parquet")) shouldBe Left("show --parquet takes one <path>")
    parse(Seq("show", "--parquet", "a", "b")) shouldBe Left("show --parquet takes one <path>")
    parse(Seq("show", "k6_minhash_lsh", "sfdir", "extra")) shouldBe
      Left("bad arguments for show")
    parse(Seq("plans", "out")) shouldBe Left("bad arguments for plans")
    parse(Seq("plans", "out", "after", "k6_minhash_lsh,nope,nope2")) shouldBe
      Left("unknown queries: nope,nope2")
    parse(Seq("op_dissect", "a", "b")) shouldBe Left("bad arguments for op_dissect")
  }

  test("Dev: the usage line names every subcommand") {
    usage.linesIterator.size shouldBe 1
    Seq("show", "--parquet", "plans", "op_dissect", "l16_dissect")
      .foreach(c => usage should include(c))
  }
}
