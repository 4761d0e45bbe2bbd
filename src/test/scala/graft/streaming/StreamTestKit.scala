package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Test helpers for streaming specs. */
object StreamTestKit {

  /** One event row for MemoryStream-driven specs. */
  case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

  /** Run a streaming frame into an in-memory table. Pass a durable
    * `checkpoint` to make the query restartable: the offset log skips
    * already-processed source files and the state store recovers
    * aggregation state, so a restarted query resumes instead of
    * replaying.
    */
  def startMemorySink(df: DataFrame, name: String, mode: OutputMode,
      checkpoint: Option[String] = None): StreamingQuery = {
    val w = df.writeStream.format("memory").queryName(name).outputMode(mode)
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }
}
