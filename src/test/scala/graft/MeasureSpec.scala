package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.dev.Measure

/** The measurement main's argument check and record writer — plain JVM
  * tests, no SparkSession needed. */
class MeasureSpec extends AnyFunSuite {

  test("Measure.cliError: usage, unknown experiment or key, bad size, missing dir, or None") {
    assert(Measure.cliError(Nil).exists(_.startsWith("usage: graft.dev.Measure")))

    val unknown = Measure.cliError(Seq("nope")).get
    assert(unknown.startsWith("unknown experiment: nope; valid experiments: "), unknown)
    for (e <- Seq("scale4g", "neardup4g", "substr2g", "langid_real", "stream_soak",
        "plan", "bpe_k64", "bpe_k1024", "bpe_crossover", "frontier_wall",
        "phash_twin_ham", "q18_soak"))
      assert(unknown.contains(e), unknown)

    val key = Measure.cliError(Seq("scale4g", "reps=3")).get
    assert(key.startsWith("unknown argument for scale4g: reps=3; valid keys: "), key)
    assert(key.contains("sizes="), key)

    assert(Measure.cliError(Seq("scale4g", "sizes=abc")) ===
      Some("sizes must be comma-separated positive MB counts, got: abc"))

    val gone = Files.createTempDirectory("measure_books")
    Files.delete(gone)
    assert(Measure.cliError(Seq("langid_real", s"books=$gone")) ===
      Some(s"books dir not found: $gone"))

    assert(Measure.cliError(Seq("plan", "/root/testdata/sf0.001", "no_such_query"))
      .exists(_.startsWith("unknown query: no_such_query; valid queries: ")))
    assert(Measure.cliError(Seq("plan", "/root/testdata/sf0.001", "wordstats")) === None)
    assert(Measure.cliError(Seq("stream_soak", "sf=/root/testdata/sf0.001")) === None)
  }

  test("Measure.record throws when the record cannot be written") {
    val notADir = Files.createTempFile("measure_record", ".txt")
    try intercept[java.io.IOException](
      Measure.record(s"$notADir/RECORD.json", "{}", "{}"))
    finally Files.delete(notADir)
  }
}
