package graft.app

import org.scalatest.funsuite.AnyFunSuite

/** `app.Main` honours exactly `--run-ts <ts>` and `--out parquet:<path>|jdbc`;
  * anything else is refused before a session starts.
  */
class MainArgsSpec extends AnyFunSuite {
  import Main.parseArgs

  test("the documented arguments parse") {
    assert(parseArgs(Nil) == Right(Map.empty))
    assert(parseArgs(List("--run-ts", "2026-01-01 00:00:00", "--out", "parquet:/tmp/x")) ==
      Right(Map("--run-ts" -> "2026-01-01 00:00:00", "--out" -> "parquet:/tmp/x")))
    assert(parseArgs(List("--out", "jdbc")) == Right(Map("--out" -> "jdbc")))
  }

  test("an --out without the parquet: prefix is refused, not read as jdbc") {
    val e = parseArgs(List("--out", "parquet/tmp/x"))
    assert(e.isLeft && e.swap.exists(_.contains("parquet/tmp/x")), e)
    assert(parseArgs(List("--out", "parquet:")).isLeft)
  }

  test("a flag without its value is refused, not dropped") {
    assert(parseArgs(List("--run-ts")) == Left("--run-ts needs a value"))
    assert(parseArgs(List("--run-ts", "2026-01-01 00:00:00", "--out")) == Left("--out needs a value"))
    assert(parseArgs(List("--runts", "x")).isLeft)
  }
}
