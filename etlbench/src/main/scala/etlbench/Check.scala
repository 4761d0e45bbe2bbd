package etlbench

import scala.util.hashing.MurmurHash3

/** What the output check reads back from a loaded mart. `hash` is an
  * order-independent digest of every column of every row.
  */
case class MartStats(
    rows: Long,
    distinctTasks: Long,
    distinctPairs: Long,
    lostRows: Long,
    quantityPlanTenths: Long,
    hash: String)

object Check {
  /** One pass over the loaded mart. Each row maps a column name to the
    * column's value as a string, `None` for null.
    */
  def stats(rows: Iterator[String => Option[String]], columns: Seq[String]): MartStats = {
    val tasks = new java.util.HashSet[String]()
    val pairs = new java.util.HashSet[(String, Option[String])]()
    var n, lost, qty, hash = 0L
    val sorted = columns.map(_.toLowerCase).sorted
    rows.foreach { row =>
      n += 1
      val task = row("task_id").orNull
      val subtask = row("subtask_id")
      tasks.add(task)
      pairs.add(task -> subtask)
      if (subtask.isDefined && row("subtask_name").isEmpty) lost += 1
      row("quantity_plan").foreach(q => qty += math.round(q.toDouble * 10))
      hash += MurmurHash3.orderedHash(sorted.map(row)).toLong
    }
    MartStats(n, tasks.size.toLong, pairs.size.toLong, lost, qty, java.lang.Long.toHexString(hash))
  }

  /** Every way a run's load differs from what the workspace expects; empty
    * when the run is correct. `returned` is `Pipeline.run`'s row count and
    * `refHash` the digest of the first run of the same seed, if any.
    */
  def verdict(expect: Expect, got: MartStats, alertFired: Boolean, returned: Long,
      refHash: Option[String]): Seq[String] = {
    def diff(what: String, want: Any, have: Any): Option[String] =
      if (want == have) None else Some(s"$what: expected $want, loaded $have")
    Seq(
      diff("rows", expect.rows, got.rows),
      diff("Pipeline.run row count", expect.rows, returned),
      diff("distinct task_id", expect.distinctTasks, got.distinctTasks),
      diff("distinct (task_id, subtask_id)", expect.distinctPairs, got.distinctPairs),
      diff("lost-lot rows", expect.lostRows, got.lostRows),
      diff("data-loss alert fired", expect.alert, alertFired),
      diff("sum(quantity_plan) x10", expect.quantityPlanTenths, got.quantityPlanTenths),
      refHash.flatMap(diff("content hash vs first run", _, got.hash))).flatten
  }
}
