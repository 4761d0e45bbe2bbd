package graft.sources

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.yougile.Fixtures

/** The micro-batch offset is a SET of processed column ids, not a
  * position: the HTTP API guarantees neither listing order nor
  * membership, so restart reconciliation must be set-difference against
  * the fresh listing (the r9 positional offset silently skipped or
  * re-ingested columns when the listing changed between runs).
  */
class MicroBatchOffsetSpec extends AnyFunSuite {

  private def stream(perBatch: Int = 2) = new YouGileMicroBatchStream(
    new StructType(),
    Map("entity" -> "tasks", "fixturedir" -> Fixtures.jsonDir,
      "columnsperbatch" -> perBatch.toString))

  private def ids(o: org.apache.spark.sql.connector.read.streaming.Offset): Set[String] =
    o.asInstanceOf[YouGileOffset].done

  test("drain visits every column exactly once, per-batch budget honored") {
    val st = stream(3)
    var cur = st.initialOffset()
    var seen = Set.empty[String]
    var batches = 0
    while (ids(st.latestOffset(cur, st.getDefaultReadLimit)) != ids(cur)) {
      val next = st.latestOffset(cur, st.getDefaultReadLimit)
      val parts = st.planInputPartitions(cur, next)
        .map(_.asInstanceOf[YouGilePartition].columnId.get)
      assert(parts.length <= 3, s"budget exceeded: ${parts.length}")
      assert(parts.toSet.intersect(seen).isEmpty, "column re-ingested")
      seen ++= parts
      cur = next
      batches += 1
    }
    assert(seen == ids(st.latestOffset())) // full universe, once each
    assert(batches == 3) // 8 fixture columns at 3/batch
  }

  test("restart resumes by MEMBERSHIP: done ids skipped wherever they sit in the listing") {
    val st = stream()
    val all = ids(st.latestOffset()).toSeq.sorted
    // checkpoint committed two ids from the MIDDLE and END of the fresh
    // listing — a positional offset of 2 would re-ingest them and skip
    // the first two; the id-set resume must fetch exactly the others
    val done = Set(all(3), all.last)
    val rest = ids(st.latestOffset(YouGileOffset(done), ReadLimit.allAvailable()))
    val planned = st.planInputPartitions(YouGileOffset(done), YouGileOffset(rest))
      .map(_.asInstanceOf[YouGilePartition].columnId.get).toSet
    assert(planned == all.toSet -- done)
  }

  test("ids that vanished from the listing are done; new ids are ingested") {
    val st = stream()
    val all = ids(st.latestOffset()).toSeq.sorted
    // checkpoint knows an id the fresh listing no longer has ("ghost"):
    // it must not be planned, and must not block the remaining columns
    val done = Set("ghost-column-id", all.head)
    val end = st.latestOffset(YouGileOffset(done), ReadLimit.allAvailable())
    val planned = st.planInputPartitions(YouGileOffset(done), end)
      .map(_.asInstanceOf[YouGilePartition].columnId.get).toSet
    assert(planned == all.toSet - all.head)
  }

  test("a batch planned again is not fetched again") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("yg_stream_fetch")
    Files.list(Paths.get(Fixtures.jsonDir)).forEach(f => { Files.copy(f, dir.resolve(f.getFileName)); () })
    val st = new YouGileMicroBatchStream(new StructType(),
      Map("entity" -> "tasks", "fixturedir" -> dir.toString, "columnsperbatch" -> "2"))
    val start = st.initialOffset()
    val end = st.latestOffset(start, st.getDefaultReadLimit)
    val first = st.planInputPartitions(start, end).toSeq
    // Spark re-plans a batch on every copy of its scan node; with the
    // pages gone, only the kept partitions can answer
    Files.list(dir).forEach(f => Files.delete(f))
    Files.delete(dir)
    assert(st.planInputPartitions(start, end).toSeq == first)
    assert(first.size == 2)
  }

  test("offset JSON is a canonical sorted id array and round-trips; legacy positional decodes") {
    val st = stream()
    val o = YouGileOffset(Set("b", "a"))
    assert(o.json == """{"done":["a","b"]}""")
    assert(ids(st.deserializeOffset(o.json)) == Set("a", "b"))
    // legacy {"done":N} checkpoints map to the first N of the sorted listing
    val all = ids(st.latestOffset()).toSeq.sorted
    assert(ids(st.deserializeOffset("""{"done":2}""")) == all.take(2).toSet)
  }

  test("offset JSON escapes hostile ids (untrusted API membership) and still round-trips") {
    // the HTTP API owns id formats; a quote/backslash/control char in an
    // id must yield VALID checkpoint JSON, or stream restarts wedge on
    // an unparseable offset
    val hostile = Set("""has"quote""", """back\slash""", "tab\there", "plain")
    val o = YouGileOffset(hostile)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(o.json).path("done")
    assert(node.isArray)
    val back = (0 until node.size()).map(node.get(_).asText()).toSet
    assert(back == hostile)
    assert(ids(stream().deserializeOffset(o.json)) == hostile)
  }
}
