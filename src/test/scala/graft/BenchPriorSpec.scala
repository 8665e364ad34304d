package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench` compares a run only with a prior artifact taken at the
  * same master: a record from another machine shape is refused (no
  * movers, isolated re-runs or stream verdicts), and a malformed one
  * fails the run instead of reading as "no prior". */
class BenchPriorSpec extends AnyFunSuite {

  private def artifact(master: String) =
    s"""{"metric":"total","value":3.5,"queries":{"q01_a":1.25,"q02_b":-1.0,"q03_c":2},""" +
      """"stream_batches":{"q03_c":{"batches":4,"batch_ms":900,"commit_ms":30}},""" +
      s""""stream_runs":{"q03_c":[2.1,2.0,2.2]},"sf":"sf0.1","master":"$master"}"""

  test("a local[32] prior is refused for a local[4] run") {
    assert(Bench.Prior.parse(artifact("local[32]"), "local[4]") == Left("local[32]"))
    assert(Bench.Prior.parse(artifact("local-cluster[2,4,4096]"), "local[4]") ==
      Left("local-cluster[2,4,4096]"))
  }

  test("a prior at the same master is read in full") {
    val p = Bench.Prior.parse(artifact("local[4]"), "local[4]")
    assert(p == Right(Bench.Prior(
      Map("q01_a" -> 1.25, "q02_b" -> -1.0, "q03_c" -> 2.0),
      Map("q03_c" -> ((4L, 900L, 30L))),
      Map("q03_c" -> 3))))
  }

  test("a malformed prior fails instead of reading as no prior") {
    for (bad <- Seq(
        "",
        "{\"master\":\"local[4]\",\"queries\":{",
        artifact("local[4]").replace("\"master\":\"local[4]\"", "\"host\":\"x\""),
        artifact("local[4]").replace("1.25", "\"fast\""),
        artifact("local[4]").replace("\"commit_ms\":30", "\"commit\":30")))
      intercept[Exception](Bench.Prior.parse(bad, "local[4]"))
  }
}
