package graft.sinks

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.ops.Http

/** Side-channel alert sink (K2): the reference posts to the Telegram Bot
  * API on DAG failure (`dags/yougile_etl_dag.py:34-45`) and on the
  * data-loss check (`:244`). Behind a trait so tests assert alerts
  * without a network.
  */
trait Alerter {
  def alert(text: String): Unit
}

object NoopAlerter extends Alerter {
  override def alert(text: String): Unit = ()
}

/** POST `https://api.telegram.org/bot<token>/sendMessage` with
  * form-encoded chat_id/text (ref `send_message_tg`, `:41-45`). The
  * transport is injectable for offline tests.
  *
  * A failed alert prints one stderr line, with the bot token masked, and
  * does not throw: `Pipeline.run` alerts after the write, so a throw there
  * would make `app.Main`'s retry append the whole run a second time.
  */
class TelegramAlerter(
    botToken: String,
    chatId: String,
    transport: (String, Map[String, String]) => String = TelegramAlerter.defaultTransport)
    extends Alerter {
  override def alert(text: String): Unit =
    try {
      transport(
        s"https://api.telegram.org/bot$botToken/sendMessage",
        Map("chat_id" -> chatId, "text" -> text))
      ()
    } catch {
      case NonFatal(e) =>
        val why = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println("[alert] Telegram alert not sent: " +
          (if (botToken.isEmpty) why else why.replace(botToken, "<token>")))
    }
}

object TelegramAlerter {
  /** POST the form through [[graft.ops.Http.send]]; a non-2xx answer
    * (401 bad token, 429 throttled) throws, naming the status but not the
    * URL, whose path carries the token.
    */
  val defaultTransport: (String, Map[String, String]) => String = { (url, form) =>
    val body = form
      .map { case (k, v) => s"${URLEncoder.encode(k, UTF_8)}=${URLEncoder.encode(v, UTF_8)}" }
      .mkString("&")
    Http.send("Telegram sendMessage", url,
      Map("Content-Type" -> "application/x-www-form-urlencoded"),
      Some(body.getBytes(UTF_8)), Http.ReadTimeoutMs)
  }
}

/** Mart output sink (K1). Implementations: batched JDBC append (the
  * production target `tops_yg.cdm_tasks`) and parquet (tests/lake).
  *
  * Contract: `write` must execute the frame it is given before it
  * returns. `Pipeline.run` reads the run's row and data-loss counters
  * from that execution; a sink that keeps the frame without running it
  * makes the run fail.
  */
trait MartSink {
  def write(df: DataFrame): Unit
}

/** Batched JDBC append — replaces the reference's row-at-a-time
  * `insert_rows` (`:325-333`) with `df.write.jdbc`, which batches
  * `batchsize` rows per statement per partition and writes partitions in
  * parallel. `stringtype=unspecified` should be set in the URL for
  * Postgres UUID columns so VARCHAR task ids cast server-side
  * (SURVEY.md §7.4). Append-only snapshot per run, like the reference —
  * no truncate, no upsert.
  */
class JdbcSink(url: String, table: String, user: String, password: String,
    batchSize: Int = 1000) extends MartSink {
  override def write(df: DataFrame): Unit =
    df.write
      .mode(SaveMode.Append)
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
      .option("batchsize", batchSize.toString)
      .save()
}

class ParquetSink(path: String) extends MartSink {
  override def write(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)
}

/** Small-file compaction — the OPTIMIZE/maintenance pass every
  * micro-batch or per-column ingest needs at scale: thousands of tiny
  * files per day turn each downstream scan into a task-scheduling
  * storm (one task per file once files drop under
  * `files.maxPartitionBytes`) and crush the namenode/listing path.
  *
  * [[Compactor.compactVersioned]] sizes the rewrite from the MEASURED
  * layout: output file count = ⌈total bytes / targetBytes⌉, clamped to
  * [1, current file count] (compaction only merges), `repartition(n)`
  * so every output file lands near the target. The rewrite is published
  * through [[VersionedTable]]'s two-phase commit, so a reader at any
  * instant resolves either the old or the new version, never a partial
  * table. SinksOpsSpec pins the byte-derived sizing, content equality
  * and the crash-between-phases invisibility.
  */
object Compactor {
  import org.apache.hadoop.fs.Path

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (file count, total bytes) of the parquet data files under `path`. */
  def layout(spark: SparkSession, path: String): (Int, Long) = {
    val f = fs(spark, path)
    val it = f.listFiles(new Path(path), true)
    var n = 0
    var bytes = 0L
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) { n += 1; bytes += st.getLen }
    }
    (n, bytes)
  }

  /** Compact the CURRENT committed version of a [[VersionedTable]]
    * toward `targetBytes` files, publishing the rewrite through the
    * two-phase commit: a reader at any instant — including mid-crash —
    * resolves either the old version or the new one, never a partial
    * table. Returns (files before, files after).
    */
  def compactVersioned(spark: SparkSession, root: String, targetBytes: Long): (Int, Int) = {
    val cur = VersionedTable.committedVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val curPath = VersionedTable.dataPath(root, cur)
    val (before, bytes) = layout(spark, curPath)
    val n = math.max(1L, math.min(before.toLong, (bytes + targetBytes - 1) / targetBytes)).toInt
    val v = VersionedTable.publish(spark, root, spark.read.parquet(curPath).repartition(n))
    (before, layout(spark, VersionedTable.dataPath(root, v))._1)
  }
}

/** Two-phase atomic table publish over a plain filesystem — the commit
  * protocol an in-place delete+rename rewrite lacks (VERDICT r11 #7),
  * in the shape every table format (Iceberg/Delta) reduces to: data
  * files are INVISIBLE until a tiny marker lands via the filesystem's
  * one atomic primitive, rename-into-place.
  *
  * Layout under `<root>/`: versioned data dirs `v<N>/` plus commit
  * markers `_commit_v<N>`. A version is visible iff its marker exists;
  * readers resolve the HIGHEST marked version. Publishing:
  *
  *  - phase 1 ([[stage]]): write the data under `v<N+1>/` — no marker,
  *    so readers cannot resolve it; a crash here strands bytes but
  *    never changes what any reader sees;
  *  - phase 2 ([[commit]]): write the marker content to
  *    `_staging_commit_v<N+1>`, fsync, then RENAME onto
  *    `_commit_v<N+1>`. HDFS rename is a single NameNode op and POSIX
  *    rename(2) is atomic, so the marker appears completely or not at
  *    all — there is no instant at which a reader can observe a
  *    half-published version.
  *
  * Retention: [[publish]] vacuums only versions OLDER than the
  * previous committed one — the newest two always survive a publish,
  * so a reader that resolved version N just before N+1 landed keeps
  * its (lazy, possibly mid-scan) parquet read intact through the next
  * publish, Delta/Iceberg-style (ADVICE r12). Deeper history is a
  * MAINTENANCE decision, not a publish side effect: [[vacuumRetain]]
  * GCs to an explicit window. A crash leaves stale files, never a
  * partial table. Phases are package-visible so SinksOpsSpec can stop
  * between them and prove reader invisibility at every crash point.
  *
  * Concurrent writers: version numbers are CLAIMED before staging via
  * the filesystem's OTHER atomic primitive, create-exclusive
  * (`_claim_v<N>`; HDFS create(overwrite=false) is a single NameNode
  * op, O_CREAT|O_EXCL on POSIX). Exactly one writer can own a number,
  * so two publishers can never stage into the same data dir — the
  * loser bumps to the next free number and lands as a later version.
  * Which publish becomes "current" is decided at CLAIM time, not
  * commit time (claim-order-wins, not commit-completion-order): a
  * writer that claims v2 and stages slowly while a competitor claims
  * and commits v3 has its later-in-wall-clock publish land as the
  * non-current version. Readers see whichever claimed number is both
  * highest and committed. A claim whose writer crashed strands a
  * number, never a partial table; stale claims fall to vacuum.
  */
object VersionedTable {
  import org.apache.hadoop.fs.Path

  private val Marker = "_commit_v"
  private val Staging = "_staging_commit_v"
  private val Claim = "_claim_v"

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def dataPath(root: String, v: Long): String = s"$root/v$v"

  /** All committed versions, newest first — from the atomic markers
    * ONLY; data dirs without a marker are in-flight or abandoned writes.
    */
  private def committedVersions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    val p = new Path(root)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).iterator
      .map(_.getPath.getName)
      .filter(_.startsWith(Marker))
      .flatMap(n => scala.util.Try(n.stripPrefix(Marker).toLong).toOption)
      .toSeq.sorted(Ordering[Long].reverse)
  }

  /** Highest committed version. */
  def committedVersion(spark: SparkSession, root: String): Option[Long] =
    committedVersions(spark, root).headOption

  /** The current committed version's data. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val v = committedVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    spark.read.parquet(dataPath(root, v))
  }

  /** Time travel: read a SPECIFIC committed version — refuses uncommitted
    * (staged/abandoned) data dirs, which are not part of table history.
    * A version is readable for as long as the retention window keeps it
    * (publish keeps the newest two; [[vacuumRetain]] sets deeper policy).
    */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame = {
    if (!committedVersions(spark, root).contains(v))
      throw new IllegalStateException(
        s"version $v is not committed under $root (vacuumed, or never published)")
    spark.read.parquet(dataPath(root, v))
  }

  /** Phase 1: stage version `v`'s data (unmarked — invisible). */
  private[graft] def stage(spark: SparkSession, root: String, v: Long, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(dataPath(root, v))

  /** Phase 2: atomically publish version `v`. `meta` (optional, one
    * line) rides INSIDE the marker, so it becomes visible in the same
    * atomic rename as the data — the transactional slot idempotent
    * writers record their application id in (Delta's `txn` action):
    * a foreachBatch sink stores `batch=<id>` here and an epoch replay
    * finds its own tag and skips, never double-applying.
    */
  private[graft] def commit(spark: SparkSession, root: String, v: Long,
      meta: String = ""): Unit = {
    require(!meta.contains("\n"), "marker meta must be a single line")
    val f = fs(spark, root)
    val staging = new Path(s"$root/$Staging$v")
    val out = f.create(staging, true)
    try {
      out.writeBytes(s"v$v\n$meta\n")
      // durable before visible: the rename must never expose a marker
      // whose bytes could still be lost (local ChecksumFileSystem lacks
      // hsync — flush is its strongest barrier)
      try out.hsync()
      catch { case _: UnsupportedOperationException => out.flush() }
    } finally out.close()
    if (!f.rename(staging, new Path(s"$root/$Marker$v")))
      throw new java.io.IOException(s"commit rename failed for v$v under $root")
  }

  /** Best-effort GC of everything versioned below `keep`: data dirs,
    * markers, stranded staging files and stale claims — called only
    * after a marker ≥ `keep` landed.
    */
  private[graft] def vacuum(spark: SparkSession, root: String, keep: Long): Unit = {
    val f = fs(spark, root)
    f.listStatus(new Path(root)).foreach { st =>
      val n = st.getPath.getName
      val v =
        if (n.startsWith(Marker)) scala.util.Try(n.stripPrefix(Marker).toLong).toOption
        else if (n.startsWith(Staging)) scala.util.Try(n.stripPrefix(Staging).toLong).toOption
        else if (n.startsWith(Claim)) scala.util.Try(n.stripPrefix(Claim).toLong).toOption
        else if (n.startsWith("v")) scala.util.Try(n.stripPrefix("v").toLong).toOption
        else None
      if (v.exists(_ < keep)) { f.delete(st.getPath, true); () }
    }
  }

  /** Maintenance GC: keep the newest `retainLast` COMMITTED versions,
    * delete everything older (superseded data dirs, their markers, and
    * stale staging/claim files). The retention window is the reader
    * contract: a reader holding version N survives every publish until
    * N falls out of the window — size it to the longest concurrent
    * scan, the way Delta's `VACUUM RETAIN` does.
    */
  def vacuumRetain(spark: SparkSession, root: String, retainLast: Int): Unit = {
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    val vs = committedVersions(spark, root)
    if (vs.size > retainLast) vacuum(spark, root, vs(retainLast - 1))
  }

  /** CAS claim of version number `v`: create-exclusive — exactly one
    * writer ever owns a number; the losing publisher sees `false` and
    * moves to the next free number. On HDFS, `create(overwrite=false)`
    * is a single NameNode op and genuinely atomic. On the LOCAL fs it
    * is NOT: Hadoop's RawLocalFileSystem spells it exists()-then-open —
    * a check-then-act window two threads can both slip through (this
    * spec's racing-publishers test caught exactly that), so the `file:`
    * scheme goes through NIO `Files.createFile` = O_CREAT|O_EXCL at the
    * kernel. Package-visible so the spec can interleave two publishers
    * deterministically.
    */
  private[graft] def tryClaim(spark: SparkSession, root: String, v: Long): Boolean = {
    val f = fs(spark, root)
    val p = new Path(s"$root/$Claim$v")
    if (f.getScheme == "file") {
      val local = new java.io.File(p.toUri.getPath)
      local.getParentFile.mkdirs()
      try { java.nio.file.Files.createFile(local.toPath); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    } else {
      try { f.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
    }
  }

  /** Marker metas of the retained committed versions, newest first.
    * NOTE the retention caveat: vacuum deletes superseded markers along
    * with their data, so this is the RECENT transaction history — enough
    * for the streaming-epoch idempotence contract (a restart replays
    * only the last uncommitted epoch, whose tag is by definition in the
    * newest marker if it was applied), not an audit log.
    */
  def committedMetas(spark: SparkSession, root: String): Seq[(Long, String)] = {
    val f = fs(spark, root)
    committedVersions(spark, root).map { v =>
      val in = f.open(new Path(s"$root/$Marker$v"))
      try {
        val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        (v, lines.drop(1).headOption.getOrElse(""))
      } finally in.close()
    }
  }

  /** Two-phase publish of `df` as the next version; returns it.
    * Claim → stage → commit → vacuum-behind-one: the newest two
    * committed versions always survive (see class doc, Retention).
    * `meta` is recorded atomically in the commit marker (see [[commit]]).
    */
  def publish(spark: SparkSession, root: String, df: DataFrame,
      meta: String): Long = {
    var next = committedVersion(spark, root).getOrElse(0L) + 1
    var probes = 0
    while (!tryClaim(spark, root, next)) { // competing writer owns it
      next += 1
      probes += 1
      if (probes > 10000)
        throw new IllegalStateException(
          s"could not claim a version under $root after $probes probes")
    }
    stage(spark, root, next, df) //   phase 1 — invisible
    commit(spark, root, next, meta) // phase 2 — atomic rename
    vacuumRetain(spark, root, 2) //   only after the marker landed
    next
  }

  /** Meta-less publish (the common whole-table case). */
  def publish(spark: SparkSession, root: String, df: DataFrame): Long =
    publish(spark, root, df, meta = "")

  /** Drop the whole table root (test/bootstrap hygiene). */
  def drop(spark: SparkSession, root: String): Unit = {
    fs(spark, root).delete(new Path(root), true)
    ()
  }
}
