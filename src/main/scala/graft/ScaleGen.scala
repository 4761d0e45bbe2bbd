package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-off 10×+ scale-up of an existing testdata dir for pressure
  * testing (VERDICT r13 #6): every table becomes `factor` key-shifted
  * copies — id/key columns move by `copy · 10⁷` so copies are disjoint
  * key spaces (joins/graphs/windows scale instead of colliding), text
  * gets a per-copy suffix so near-dup entries face realistic growth
  * rather than a pathological everyone-duplicates-everyone corpus, and
  * embeddings get a tiny per-copy first-dimension nudge for the same
  * reason. NOT an oracle surface (DuckDB never sees it) — this exists
  * to catch driver-side or skew cliffs the sf0.1 bench cannot see.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <destDir> <factor>
  */
object ScaleGen {

  /** Copy stride — also the contract [[Tables.plantedId]]'s collision
    * guard leans on: every generated corpus's ids live in contiguous
    * blocks based at multiples of this stride. */
  private[graft] val Shift = 10000000L // > any sf0.1 key domain

  private def shifted(df: DataFrame, factor: Int,
      keyCols: Seq[String], perCopy: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map { i =>
      val base = keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(Shift * i)))
      perCopy(base, i)
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dest = args.lift(1).getOrElse("/tmp/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = LocalSession(32)
    def id(df: DataFrame, i: Int): DataFrame = df

    val plans: Seq[(String, Seq[String], (DataFrame, Int) => DataFrame)] = Seq(
      ("region", Nil, id), // tiny dims stay single-copy key spaces
      ("nation", Nil, id),
      ("customer", Seq("c_custkey"), id),
      ("supplier", Seq("s_suppkey"), id),
      ("part", Seq("p_partkey"), id),
      ("orders", Seq("o_orderkey", "o_custkey"), id),
      ("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), id),
      ("events", Seq("event_id", "user_id"), id),
      ("documents", Seq("doc_id"),
        (d, i) => if (i == 0) d else d.withColumn("text", concat(col("text"), lit(s" v$i")))),
      ("embeddings", Seq("vec_id"),
        (d, i) => if (i == 0) d
          else d.withColumn("embedding",
            expr(s"transform(embedding, (x, j) -> IF(j = 0, x + ${i}e-3f, x))"))))

    plans.foreach { case (name, keys, perCopy) =>
      val df = spark.read.parquet(s"$src/$name.parquet")
      val scaledUp =
        if (keys.isEmpty) df else shifted(df, factor, keys, perCopy)
      scaledUp.repartition(32).write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"[scalegen] $name: ${scaledUp.count()} rows")
    }
    spark.stop()
  }
}
