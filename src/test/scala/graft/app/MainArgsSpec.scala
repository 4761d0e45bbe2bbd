package graft.app

import org.scalatest.funsuite.AnyFunSuite

/** `app.Main` honours exactly `--run-ts <yyyy-MM-dd HH:mm:ss>` and
  * `--out parquet:<path>|jdbc`, and runs only with a YouGile config that
  * can load something; anything else is refused before a session starts.
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

  test("a --run-ts that is not a real yyyy-MM-dd HH:mm:ss is refused") {
    for (ts <- Seq("2026-13-01 00:00:00", "2026-02-30 00:00:00", "01.01.2026 00:00",
        "now", "yesterday", "2026-01-01 00:00", "2026-01-01T00:00:00", "2026-01-01 24:00:00")) {
      val e = parseArgs(List("--run-ts", ts))
      assert(e.isLeft && e.swap.exists(_.contains(ts)), ts)
    }
    assert(parseArgs(List("--run-ts", "2024-02-29 23:59:59")).isRight)
  }

  test("the default run timestamp keeps its seconds at the top of a minute") {
    val ts = java.time.LocalDateTime.of(2026, 1, 1, 10, 0).format(Main.RunTsFormat)
    assert(ts == "2026-01-01 10:00:00")
    assert(parseArgs(List("--run-ts", ts)).isRight)
  }

  private val env = Map(
    "YG_BASE_URL" -> "https://ru.yougile.com/api-v2/",
    "YG_TOKEN" -> "t",
    "YG_ACTUAL_BOARDS" -> "[\"Board A\"]")

  private def refusal(env: Map[String, String]): String =
    Main.checkConfig(env).swap.getOrElse(fail(s"accepted $env"))

  test("a complete YouGile config is accepted") {
    assert(Main.checkConfig(env).map(_.allowedBoards) == Right(Seq("Board A")))
  }

  test("a missing or empty YG_BASE_URL is refused, naming it") {
    assert(refusal(env - "YG_BASE_URL").contains("YG_BASE_URL"))
    assert(refusal(env + ("YG_BASE_URL" -> "")).contains("YG_BASE_URL"))
  }

  test("a YG_BASE_URL without its trailing slash is refused") {
    val r = refusal(env + ("YG_BASE_URL" -> "https://ru.yougile.com/api-v2"))
    assert(r.contains("YG_BASE_URL") && r.contains("'/'"), r)
  }

  test("a missing or empty YG_TOKEN is refused, naming it") {
    assert(refusal(env - "YG_TOKEN").contains("YG_TOKEN"))
    assert(refusal(env + ("YG_TOKEN" -> "")).contains("YG_TOKEN"))
  }

  test("an unset or empty board list is refused, naming YG_ACTUAL_BOARDS") {
    for (boards <- Seq(None, Some("[]"), Some(""), Some(" , "), Some("[\"\"]")))
      assert(refusal(boards.fold(env - "YG_ACTUAL_BOARDS")(b => env + ("YG_ACTUAL_BOARDS" -> b)))
        .contains("YG_ACTUAL_BOARDS"), boards)
  }
}
