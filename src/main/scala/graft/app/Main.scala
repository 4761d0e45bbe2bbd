package graft.app

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.{DateTimeFormatter, ResolverStyle}

import scala.util.Try

import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.ops.Retry
import graft.sinks.{Alerter, JdbcSink, NoopAlerter, ParquetSink, TelegramAlerter}
import graft.yougile._

/** Production entrypoint: config from env (S6), run timestamp from args
  * (O4), retries with failure alerts (O3/K2), HTTP extraction under the
  * rate limit (S1/O5), JDBC or parquet load (K1).
  *
  * Usage:
  *   spark-submit --class graft.app.Main … \
  *     [--run-ts "2026-01-01 00:00:00"] [--out parquet:/path | jdbc]
  *
  * Any other argument prints the usage to stderr and exits 2 before a
  * session starts or a request is sent; so does a YouGile config
  * [[checkConfig]] refuses.
  *
  * Env: YG_BASE_URL, YG_TOKEN, YG_ACTUAL_BOARDS (JSON list or CSV),
  *      PG_URL, PG_TABLE, PG_USER, PG_PASSWORD,
  *      TG_BOT_TOKEN, TG_CHAT_ID (alerter optional — noop without them).
  */
object Main {
  val Usage = "usage: graft.app.Main [--run-ts <yyyy-MM-dd HH:mm:ss>] [--out parquet:<path>|jdbc]"

  /** The one `--run-ts` spelling, parsed STRICTly (no 2026-02-30, no
    * 24:00:00). Spark's lenient `to_timestamp` would load anything else
    * as a NULL or clock-relative `loaded_ts`.
    */
  val RunTsFormat: DateTimeFormatter =
    DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss").withResolverStyle(ResolverStyle.STRICT)

  /** The flags `main` honours, by name: `--run-ts <ts>` and
    * `--out parquet:<path>|jdbc`. Any other argument is refused with why.
    */
  def parseArgs(args: List[String]): Either[String, Map[String, String]] = args match {
    case Nil => Right(Map.empty)
    case "--run-ts" :: ts :: rest =>
      if (Try(LocalDateTime.parse(ts, RunTsFormat)).isFailure)
        Left(s"--run-ts takes yyyy-MM-dd HH:mm:ss, not '$ts'")
      else parseArgs(rest).map(_ + ("--run-ts" -> ts))
    case "--out" :: out :: rest if out == "jdbc" || out.matches("parquet:.+") =>
      parseArgs(rest).map(_ + ("--out" -> out))
    case "--out" :: out :: _ => Left(s"--out takes parquet:<path> or jdbc, not '$out'")
    case (flag @ ("--run-ts" | "--out")) :: Nil => Left(s"$flag needs a value")
    case other :: _ => Left(s"unknown argument '$other'")
  }

  /** The YouGile config `main` runs with, or the variable that makes it
    * unusable: YG_BASE_URL and YG_TOKEN must be set and non-empty,
    * YG_BASE_URL must end in `/` (the client appends the method name to
    * it), and YG_ACTUAL_BOARDS must name a board (with none, brd_clmn
    * keeps no column and the run fetches every listing to load 0 rows).
    */
  def checkConfig(env: Map[String, String]): Either[String, YouGileConfig] = {
    val cfg = YouGileConfig.fromEnv(env)
    if (cfg.baseUrl.isEmpty) Left("YG_BASE_URL is unset or empty")
    else if (!cfg.baseUrl.endsWith("/")) Left(s"YG_BASE_URL must end in '/', not '${cfg.baseUrl}'")
    else if (cfg.token.isEmpty) Left("YG_TOKEN is unset or empty")
    else if (cfg.allowedBoards.forall(_.trim.isEmpty)) Left("YG_ACTUAL_BOARDS names no board")
    else Right(cfg)
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toList)
      .fold(err => { System.err.println(s"$err\n$Usage"); sys.exit(2) }, identity)
    val runTs = opts.getOrElse("--run-ts", LocalDateTime.now(ZoneOffset.UTC).format(RunTsFormat))
    val env = sys.env
    val cfg = checkConfig(env).fold(err => { System.err.println(err); sys.exit(2) }, identity)

    val alerter: Alerter = (env.get("TG_BOT_TOKEN"), env.get("TG_CHAT_ID")) match {
      case (Some(tok), Some(chat)) => new TelegramAlerter(tok, chat)
      case _                       => NoopAlerter
    }
    val sink = opts.get("--out") match {
      case Some(s) if s.startsWith("parquet:") => new ParquetSink(s.stripPrefix("parquet:"))
      case _ => new JdbcSink(
        env.getOrElse("PG_URL", "jdbc:postgresql://localhost:5432/postgres"),
        env.getOrElse("PG_TABLE", "tops_yg.cdm_tasks"),
        env.getOrElse("PG_USER", "postgres"),
        env.getOrElse("PG_PASSWORD", ""))
    }

    val spark = SparkEntry.configure(
      SparkSession.builder().appName("yougile-cdm-tasks").getOrCreate())
    val client = new HttpYouGileClient(cfg, new RateLimiter(cfg.minRequestIntervalMs))

    try {
      val rows = Retry.withRetries(retries = 2, // ref default_args retries=2, :31
        onFailure = (e, attempt) =>
          if (attempt >= 2)
            alerter.alert(s"❌ yougile-cdm-tasks failed: ${e.getClass.getSimpleName}: ${e.getMessage}")) {
        Pipeline.run(spark, client, cfg, runTs, sink, alerter)
      }
      println(s"[yougile-cdm-tasks] loaded $rows rows at run_ts=$runTs")
    } finally spark.stop()
  }
}
