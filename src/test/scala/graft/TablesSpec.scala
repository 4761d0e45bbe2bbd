package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Boundary-loader hardening pins (round 8):
  *
  *   - the events loader must tolerate every ts encoding the driver has
  *     shipped so far — us-UTC, us-NTZ (the r7 regression: 10 gate
  *     entries failed analysis when the testdata flipped to
  *     isAdjustedToUTC=false), and nanos-as-long — always surfacing a
  *     standard TIMESTAMP column with the same wall-clock micros;
  *   - the single-row-group spread guard fires only on scans too narrow
  *     for the session, and adds no exchange otherwise.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def tmpDir(): String = SharedSpark.scratchDir("tables_spec")

  test("events loader: us-UTC encoding loads as TIMESTAMP with exact micros") {
    val dir = tmpDir()
    spark.range(3)
      .select(col("id").as("event_id"),
        timestamp_micros(col("id") * 1000000L + 1755000000000000L).as("ts"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Tables(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    val micros = ev.select(unix_micros(col("ts"))).orderBy("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(micros == Seq(1755000000000000L, 1755000001000000L, 1755000002000000L))
  }

  test("events loader: us-NTZ encoding (the r7 regression) loads as TIMESTAMP") {
    val dir = tmpDir()
    // a UTC session reads NTZ and LTZ micros as the same instant, so the
    // cast in normalizeNtz is wall-clock-preserving
    spark.range(3)
      .select(col("id").as("event_id"),
        timestamp_micros(col("id") * 1000000L + 1755000000000000L)
          .cast(TimestampNTZType).as("ts"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assume(raw.schema("ts").dataType == TimestampNTZType,
      "fixture did not round-trip as NTZ — encoding pin would be vacuous")
    val ev = Tables(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    // the exact expression that failed analysis in r7 must work again
    val micros = ev.select(unix_micros(col("ts"))).orderBy("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(micros == Seq(1755000000000000L, 1755000001000000L, 1755000002000000L))
  }

  test("events loader: legacy nanos-as-long encoding floors to micros") {
    val dir = tmpDir()
    // the nanosAsLong flag surfaces TIMESTAMP(NANOS) as a plain long; the
    // loader branches on LongType, so a long fixture exercises that path
    spark.range(3)
      .select(col("id").as("event_id"),
        (col("id") * 1000000000L + 1755000000000000123L).as("ts"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Tables(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    val micros = ev.select(unix_micros(col("ts"))).orderBy("event_id")
      .collect().map(_.getLong(0)).toSeq
    // 123 trailing ns truncate, never round up
    assert(micros == Seq(1755000000000000L, 1755000001000000L, 1755000002000000L))
  }

  test("spread predicate: fires below half-width, identity at adequate width") {
    // the testdata regression shape: 1 row group on a 32-way session
    assert(Tables.shouldSpread(scanPartitions = 1, target = 32))
    assert(Tables.shouldSpread(scanPartitions = 15, target = 32))
    // at half width or more the exchange buys nothing
    assert(!Tables.shouldSpread(scanPartitions = 16, target = 32))
    assert(!Tables.shouldSpread(scanPartitions = 1000, target = 32))
    // a production-scale scan is never spread
    assert(!Tables.shouldSpread(scanPartitions = 8192, target = 2000))
  }

  test("plantedId: re-key is in-block, so ScaleGen ladder copies pass the guard") {
    // block 0 (driver testdata): plain +offset re-key
    // block 1 (ScaleGen copy at 10^7): id 10,000,002 collides with nothing
    //   — the r17 absolute guard false-positived here and killed the
    //   sf1/sf10 ladder probes for every planted-cohort entry (review r18)
    val df = spark.createDataFrame(Seq(
      Tuple1(2L), Tuple1(10000002L), Tuple1(20000004L)
    )).toDF("doc_id").select(Tables.plantedId(col("doc_id")).as("k"))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(3000002L, 13000002L, 23000004L))
  }

  test("plantedId: an id past the in-block offset still fails loudly") {
    val df = spark.createDataFrame(Seq(Tuple1(3000001L))).toDF("doc_id")
      .select(Tables.plantedId(col("doc_id")).as("k"))
    val e = intercept[Exception](df.collect())
    assert(e.getMessage.contains("planted re-key collision"), e.getMessage)
  }

  test("wide loader is an identity on an adequately-split scan: no added exchange") {
    // local[2] session: a 1-partition scan satisfies 1*2 >= 2, so even the
    // wide (compute-bound-consumer) loader must NOT insert a repartition
    val dir = tmpDir()
    spark.range(100).select(col("id").as("r_regionkey"),
      lit("x").as("r_name"), lit("y").as("r_comment"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/region.parquet")
    val plan = Tables.wide(spark, dir, "region").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected exchange:\n$plan")
  }
}
