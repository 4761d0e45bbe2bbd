package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-5 linkage / maintenance / census
  * additions (fz1, cdc1, w3, h1, tx10, emb2). The DuckDB gate pins
  * bit-equality; these tests pin the *claims the operators make* — the
  * properties a user relies on that a hash can't name.
  */
class LinkageSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.01"

  test("fz1: pairs are canonical, within-block, and within distance") {
    val rows = SparkEntry.queries("fz1_fuzzy_join")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("name_a"), r.getAs[String]("name_b"))
      assert(a < b, s"pair not canonical: $a / $b") // each pair once, no self-pairs
      assert(a.split(' ').last == b.split(' ').last, s"cross-block pair: $a / $b")
      val d = r.getAs[Long]("dist")
      assert(d >= 1 && d <= 2, s"distance $d out of band for distinct names $a / $b")
    }
  }

  test("fz1: linkage is over distinct names — row multiplicity lives in rows_a/rows_b") {
    val parts = SparkEntry.configure(spark).read.parquet(s"$dir/part.parquet")
    val byName = parts.groupBy("p_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    SparkEntry.queries("fz1_fuzzy_join")(spark, dir).collect().foreach { r =>
      assert(r.getAs[Long]("rows_a") == byName(r.getAs[String]("name_a")))
      assert(r.getAs[Long]("rows_b") == byName(r.getAs[String]("name_b")))
    }
  }

  test("g5: three peeling sweeps replay driver-side on the repeat graph; peeling bites") {
    val out = SparkEntry.queries("g5_kcore")(spark, dir).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("deg")).toMap
    // repeat co-purchase edges (w >= 2), both directions
    val op = SparkEntry.configure(spark).read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val w = scala.collection.mutable.Map.empty[(Long, Long), Int]
    op.groupBy(_._1).values.foreach { ps =>
      val parts = ps.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- i + 1 until parts.length)
        w((parts(i), parts(j))) = w.getOrElse((parts(i), parts(j)), 0) + 1
    }
    var edges = w.filter(_._2 >= 2).keySet.flatMap(e => Seq(e, e.swap)).toSet
    val before = edges.map(_._1)
    (1 to 3).foreach { _ =>
      val deg = edges.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= 2).keySet
      edges = edges.filter(e => keep(e._1) && keep(e._2))
    }
    val want = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(out == want, s"k-core diverged (${out.size} vs ${want.size} nodes)")
    assert(out.size < before.size, "no node peeled — vacuous k-core")
  }

  test("cdc7: the as-of argmax snapshot equals cdc3's history filtered at T") {
    val t = 1705276800000000L
    val hist = SparkEntry.queries("cdc3_scd2_history")(spark, dir).collect()
    val wantRows = hist.filter { r =>
      r.getAs[Long]("valid_from_us") <= t &&
        (r.isNullAt(r.fieldIndex("valid_to_us")) || r.getAs[Long]("valid_to_us") > t)
    }
    val want = wantRows.map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
      (r.getAs[Long]("version"), r.getAs[Long]("value_c"), r.getAs[Long]("valid_from_us"))).toMap
    val got = SparkEntry.queries("cdc7_asof_snapshot")(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("version"), r.getAs[Long]("value_c"), r.getAs[Long]("valid_from_us"))).toMap
    assert(got == want, s"as-of snapshot != interval lookup (${got.size} vs ${want.size})")
    assert(got.nonEmpty)
    // T is mid-history: some keys must already have multiple versions,
    // and some of the snapshot rows must NOT be the key's current row
    assert(got.values.exists(_._1 > 1), "no key versioned before T")
    val current = hist.filter(_.getAs[Boolean]("is_current"))
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
        r.getAs[Long]("version")).toMap
    assert(got.exists { case (k, v) => current.get(k).exists(_ != v._1) },
      "snapshot degenerated to the current view — T not mid-history")
  }

  test("cdc6: snapshot diff recovers exactly the constructed discrepancies") {
    val out = SparkEntry.queries("cdc6_snapshot_diff")(spark, dir).collect()
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[String]("kind")).toMap
    val keys = SparkEntry.configure(spark).read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey").collect().map(_.getLong(0))
    val want = keys.flatMap { k =>
      val inA = k % 11 != 0
      val inB = k % 13 != 0
      if (inA && !inB) Some(k -> "removed")
      else if (!inA && inB) Some(k -> "added")
      else if (inA && inB && k % 5 == 0) Some(k -> "changed")
      else None
    }.toMap
    assert(out == want, s"diff diverged (got ${out.size}, want ${want.size})")
    // all three kinds genuinely occur
    assert(Set("added", "removed", "changed").subsetOf(out.values.toSet))
  }

  test("cdc1: merge applies exactly the MERGE outcome per key class") {
    val out = SparkEntry.queries("cdc1_merge_upsert")(spark, dir).collect()
    val kinds = out.groupBy(_.getAs[String]("change_kind")).view.mapValues(_.length).toMap
    assert(kinds.keySet == Set("kept", "updated", "inserted"))
    out.foreach { r =>
      val k = r.getAs[Long]("o_orderkey")
      r.getAs[String]("change_kind") match {
        case "kept" => // untouched snapshot row: not a change key
          assert(k % 3 != 0 && k % 7 != 0)
        case "updated" => // in snapshot AND upserted
          assert(k % 3 == 0 && k % 15 != 0 && k % 7 != 0)
          assert(r.getAs[String]("o_orderstatus") == "X")
        case "inserted" => // upsert for a key absent from the snapshot
          assert(k % 3 == 0 && k % 15 != 0 && k % 7 == 0)
          assert(r.getAs[String]("o_orderstatus") == "X")
      }
      assert(k % 3 != 0 || k % 15 != 0, s"deleted key $k survived the merge")
    }
  }

  test("w3: rolling frame equals a brute-force range self-count on a slice") {
    val out = SparkEntry.queries("w3_rolling_range")(spark, dir)
      .limit(0) // plan-only guard below; values checked on the slice
    assert(out.columns.toSeq ==
      Seq("event_id", "user_id", "roll_value_c", "roll_n"))
    val ev = Tables(SparkEntry.configure(spark), dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("es"),
        round(col("value") * 100).cast("long").as("vc"))
    val users = ev.select("user_id").distinct().limit(3)
    val slice = ev.join(users, Seq("user_id")).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("es"), r.getAs[Long]("vc")))
    val got = SparkEntry.queries("w3_rolling_range")(spark, dir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("roll_value_c"), r.getAs[Long]("roll_n"))).toMap
    slice.foreach { case (id, u, es, _) =>
      val frame = slice.filter { case (_, u2, es2, _) =>
        u2 == u && es2 >= es - 7L * 86400 && es2 <= es
      }
      assert(got(id) == (frame.map(_._4).sum, frame.length.toLong),
        s"event $id: window result ${got(id)} != brute force")
    }
  }

  test("tx10: ranks are 1..3 per doc, scores descend, surrogate matches tf/df") {
    val out = SparkEntry.queries("tx10_tfidf")(spark, dir).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[Long]("doc_id")).foreach { case (doc, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rnk"))
      assert(byRank.map(_.getAs[Long]("rnk")).toSeq == (1L to byRank.length).toSeq)
      assert(byRank.length <= 3)
      val scores = byRank.map(_.getAs[Long]("score_ppm")).toSeq
      assert(scores == scores.sorted.reverse, s"doc $doc scores not descending")
      val terms = rs.map(_.getAs[String]("term"))
      assert(terms.distinct.length == terms.length, s"doc $doc repeated a term")
    }
    out.foreach { r =>
      val expected = math.floor(r.getAs[Long]("tf").toDouble * 1e6 /
        r.getAs[Long]("df").toDouble).toLong
      assert(r.getAs[Long]("score_ppm") == expected)
    }
  }

  test("h1: buckets partition the table — counts sum to row count, edges align") {
    val out = SparkEntry.queries("h1_histogram")(spark, dir).collect()
    val orders = SparkEntry.configure(spark).read.parquet(s"$dir/orders.parquet")
    assert(out.map(_.getAs[Long]("n")).sum == orders.count())
    out.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 0 && b <= 19)
      assert(r.getAs[Long]("lo_units") == b * 30000)
      assert(r.getAs[Long]("hi_units") == (b + 1) * 30000)
      assert(r.getAs[Long]("n") > 0) // empty buckets are absent, not zero
    }
  }

  /** Driver-side reference reconstruction of the oriented co-purchase
    * edge set — ONE definition shared by the tri1 and pr1 replays so the
    * two tests cannot drift on what an edge is.
    */
  private def bruteForceEdges(): Set[(Long, Long)] = {
    val op = SparkEntry.configure(spark).read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    op.groupBy(_._1).values.flatMap { ps =>
      val parts = ps.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- i + 1 until parts.length) yield (parts(i), parts(j))
    }.toSet
  }

  test("tri1: census satisfies the combinatorial identities of the co-purchase graph") {
    val r = SparkEntry.queries("tri1_triangle_census")(spark, dir).collect().head
    val (e, w, t) = (r.getAs[Long]("n_edges"), r.getAs[Long]("n_wedges"),
      r.getAs[Long]("n_triangles"))
    assert(e > 0 && w > 0 && t > 0)
    assert(t <= w, "every triangle closes an oriented wedge")
    assert(r.getAs[Long]("closure_ppm") == math.floor(t.toDouble * 1e6 / w.toDouble).toLong)
    // brute-force recount on the raw table (sf0.01 is small enough)
    val edges = bruteForceEdges()
    assert(e == edges.size)
    val byU = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val tri = edges.iterator.map { case (a, b) =>
      byU.getOrElse(b, Set.empty).count(c => edges.contains((a, c))).toLong
    }.sum
    assert(t == tri, s"triangle count $t != brute force $tri")
  }

  test("g4: per-node clustering coefficients match a brute-force recount") {
    val out = SparkEntry.queries("g4_clustering_coeff")(spark, dir).collect()
    assert(out.nonEmpty)
    val edges = bruteForceEdges()
    val nbrs = (edges.toSeq ++ edges.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = out.map(r => r.getAs[Long]("node") ->
      (r.getAs[Long]("deg"), r.getAs[Long]("n_tri"), r.getAs[Long]("coeff_ppm"))).toMap
    assert(got.keySet == nbrs.filter(_._2.size >= 2).keySet)
    got.foreach { case (v, (deg, nTri, ppm)) =>
      val n = nbrs(v)
      assert(deg == n.size)
      val tri = n.toSeq.flatMap(a => n.toSeq.map(b => (a, b)))
        .count { case (a, b) => a < b && nbrs(a).contains(b) }.toLong
      assert(nTri == tri, s"node $v: $nTri != brute $tri")
      assert(ppm == 2L * tri * 1000000L / (deg * (deg - 1)))
    }
    assert(out.exists(_.getAs[Long]("n_tri") > 0), "no closed node — vacuous")
  }

  test("g4: forced shuffled adjacency path matches the broadcast path") {
    val s = SparkEntry.configure(spark)
    val reference = SparkEntry.queries("g4_clustering_coeff")(spark, dir).collect().toSeq
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> s.conf.getOption(k))
    try {
      keys.foreach(s.conf.set(_, "-1"))
      s.sharedState.cacheManager.clearCache()
      val fb = graft.queries.Graph.clusteringCoeffSized(s, dir, maxBroadcastDirected = 0L)
      val rows = fb.collect().toSeq
      assert(rows == reference, "shuffled path diverged from the broadcast path")
      val plan = fb.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"fallback path still broadcasts:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  test("tri1: forced degree-oriented fallback matches the broadcast path, no broadcast") {
    val s = SparkEntry.configure(spark)
    val reference = SparkEntry.queries("tri1_triangle_census")(spark, dir).collect().toSeq
    // Disable compile-time AND runtime (AQE) broadcast conversion: the
    // assert is that the fallback plan never HARD-broadcasts — at real
    // scale nothing would be broadcastable; at sf0.01 AQE would happily
    // (and legitimately) convert these small shuffle joins, which is
    // exactly what must not be confused with a hard-coded hint.
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> s.conf.getOption(k))
    try {
      keys.foreach(s.conf.set(_, "-1"))
      // drop the reference run's cached edge frame: its plan was
      // finalized under the default thresholds (AQE broadcast inside),
      // and a cache hit would smuggle that BroadcastExchange into the
      // fallback's plan string
      s.sharedState.cacheManager.clearCache()
      val fb = graft.queries.Graph.triangleCensusSized(s, dir, maxBroadcastEdges = 0L)
      val rows = fb.collect().toSeq
      assert(rows == reference, "fallback census diverged from the broadcast path")
      val plan = fb.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"fallback path still broadcasts:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  test("tri1: forced self-join edge fallback builds the identical edge set") {
    val s = SparkEntry.configure(spark)
    // zero ceiling trips the measured max-set-size probe, forcing the
    // (key, part) equi-self-join spelling; both paths must produce the
    // same oriented edges (and match the raw-table brute force)
    val viaSets = graft.queries.Graph.orientedEdgesSized(s, dir, graft.queries.Graph.MaxOrderSetSize)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaJoin = graft.queries.Graph.orientedEdgesSized(s, dir, maxSetSize = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaSets.nonEmpty)
    assert(viaJoin == viaSets, "fallback edge build diverged from the set-explosion build")
    assert(viaSets == bruteForceEdges())
  }

  test("pr1/g2: one-pass directed edge build == oriented edges plus their swap, both paths") {
    val s = SparkEntry.configure(spark)
    val expected = bruteForceEdges().flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val viaSets = graft.queries.Graph.directedEdgesSized(s, dir, graft.queries.Graph.MaxOrderSetSize)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaJoin = graft.queries.Graph.directedEdgesSized(s, dir, maxSetSize = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaSets.nonEmpty)
    assert(viaSets == expected, "directed set-explosion build diverged from oriented ∪ swap")
    assert(viaJoin == viaSets, "fallback directed build diverged from the set-explosion build")
  }

  /** The exact integer PageRank recurrence on the collected edge list —
    * shared by the 3-sweep gate replay and the checkpointed 12-sweep
    * variant so both compare against ONE definition.
    */
  private def replayPageRank(iters: Int): Seq[(Long, Long)] = {
    val und = bruteForceEdges()
    val edges = und.toSeq.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var mass = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val inc = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.iterator.map { case (src, _) => mass(src) / deg(src) }.sum
      }
      mass = inc.map { case (n, s) => n -> (150000L + s * 85 / 100) }
    }
    mass.toSeq.sortBy { case (n, m) => (-m, n) }.take(20)
  }

  test("pr1: top-20 masses match a driver-side integer PageRank replay") {
    val got = SparkEntry.queries("pr1_pagerank")(spark, dir).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("mass")))
    assert(got.length == 20)
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted.reverse)
    val expTop = replayPageRank(3)
    assert(got.toSeq == expTop, s"got ${got.take(3).toSeq} vs ${expTop.take(3)}")
  }

  test("pr1: 12-sweep checkpointed variant matches the replay with a bounded plan") {
    val out = graft.queries.Graph.pageRankN(SparkEntry.configure(spark), dir, iters = 12)
    val got = out.collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("mass"))).toSeq
    assert(got == replayPageRank(12), s"12-sweep masses diverged: ${got.take(3)}")
    // per-sweep localCheckpoint truncates lineage: the final plan hangs
    // off one LogicalRDD, not 12 nested join/aggregate sweeps
    val nodes = out.queryExecution.optimizedPlan.collect { case p => p }.length
    assert(nodes < 15, s"plan not truncated: $nodes logical nodes")
  }

  test("pr1/g2: forced shuffle-state path (zero broadcast ceiling) matches the broadcast path") {
    val s = SparkEntry.configure(spark)
    // NOTE: no plan assertion here — at fixture scale AQE freely
    // broadcasts whichever side it measures small (it even builds the
    // edge cache side), with or without our hint; what the zero ceiling
    // must guarantee is that the un-hinted plan computes the same thing
    val prShuffle = graft.queries.Graph.pageRankSized(s, dir, iters = 3, maxBroadcastEdges = 0L)
    assert(prShuffle.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == replayPageRank(3),
      "shuffle-state PageRank diverged from the replay")
    val g2Bcast = graft.queries.Graph.bfsLayersSized(
      s, dir, iters = 4, maxBroadcastEdges = Long.MaxValue).collect().map(_.toSeq).toSeq
    val g2Shuffle = graft.queries.Graph.bfsLayersSized(
      s, dir, iters = 4, maxBroadcastEdges = 0L).collect().map(_.toSeq).toSeq
    assert(g2Bcast.nonEmpty && g2Shuffle == g2Bcast,
      "shuffle-state BFS layers diverged from the broadcast-state layers")
  }

  test("g2: layers partition the reached set; 10-sweep checkpointed run is stable") {
    val got = SparkEntry.queries("g2_bfs_layers")(spark, dir).collect()
      .map(r => (r.getAs[Long]("d"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("min_node"), r.getAs[Long]("max_node")))
    // layer 0 is exactly the 5 lowest-id sources; distances are dense from 0
    assert(got.head._1 == 0L && got.head._2 == 5L)
    assert(got.map(_._1).toSeq == (0L until got.length).toSeq)
    got.foreach { case (_, n, lo, hi) => assert(n > 0 && lo <= hi) }
    // diameter < 4 here, so a longer checkpointed horizon must not change
    // layers — and its lineage must hang off a truncated plan
    val ten = graft.queries.Graph.bfsLayersN(SparkEntry.configure(spark), dir, iters = 10)
    val tenRows = ten.collect()
      .map(r => (r.getAs[Long]("d"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("min_node"), r.getAs[Long]("max_node")))
    assert(tenRows.toSeq == got.toSeq, "extra sweeps changed converged layers")
    val nodes = ten.queryExecution.optimizedPlan.collect { case p => p }.length
    assert(nodes < 15, s"plan not truncated: $nodes logical nodes")
  }

  test("cdc5: tombstones close intervals without rows, versions stay dense, one shuffle") {
    val q = SparkEntry.queries("cdc5_scd2_tombstones")(spark, dir)
    val out = q.collect()
    assert(out.nonEmpty)
    // driver-side replay of the delete-aware history over the same slice
    val raw = graft.Tables(spark, dir, "events")
      .filter(col("user_id") % 10 === 0)
      .selectExpr("user_id", "event_type", "event_id", "unix_micros(ts) AS es",
        "coalesce(CAST(round(value * 100) AS BIGINT), -1L) AS value_c")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("event_id"), r.getAs[Long]("es"), r.getAs[Long]("value_c")))
    val expected = raw.groupBy(e => (e._1, e._2)).toSeq.flatMap { case ((uid, et), es) =>
      val ordered = es.sortBy(e => (e._4, e._3))
      val live = ordered.zipWithIndex.filterNot(_._1._5 % 5 == 0)
      live.zipWithIndex.map { case ((ev, idx), vn) =>
        val next = if (idx + 1 < ordered.length) Some(ordered(idx + 1)) else None
        (uid, et, ev._3, ev._5, (vn + 1).toLong, ev._4,
          next.map(_._4), next.exists(_._5 % 5 == 0), next.isEmpty)
      }
    }.toSet
    val got = out.map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
      r.getAs[Long]("event_id"), r.getAs[Long]("value_c"), r.getAs[Long]("version"),
      r.getAs[Long]("valid_from_us"), Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong),
      r.getAs[Boolean]("closed_by_delete"), r.getAs[Boolean]("is_current"))).toSet
    assert(got == expected, "delete-aware history diverged from the replay")
    // the replay must exercise all three delete branches or the pin is vacuous
    assert(got.exists(_._8), "no interval closed by a delete in the fixture slice")
    val keysNoCurrent = got.groupBy(t => (t._1, t._2)).filter(!_._2.exists(_._9))
    assert(keysNoCurrent.nonEmpty, "no key ends on a tombstone in the fixture slice")
    // both window passes share one hash exchange (same partitioning + sort).
    // Plan-check a FRESH frame: after collect(), AQE's plan string holds
    // initial AND final plans, double-counting every exchange.
    val fresh = SparkEntry.queries("cdc5_scd2_tombstones")(spark, dir)
    val exchanges = fresh.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"tombstone pass re-shuffled: $exchanges hash exchanges")
  }

  test("inc1: all three merge branches are live and the refresh equals a direct rebuild") {
    val out = SparkEntry.queries("inc1_agg_refresh")(spark, dir).collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[Long]("ship_year")) ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_qty_e2"))).toMap
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("l_returnflag", "CAST(year(l_shipdate) AS BIGINT) AS y",
        "CAST(round(l_quantity * 100) AS BIGINT) AS q",
        "l_shipdate >= TIMESTAMP '1997-06-01' AS is_batch").collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[Long]("y"),
        r.getAs[Long]("q"), r.getAs[Boolean]("is_batch")))
    val byGroup = li.groupBy(e => (e._1, e._2))
    assert(out.keySet == byGroup.keySet, "refresh lost or invented groups")
    byGroup.foreach { case (k, rows) =>
      assert(out(k) == (rows.size.toLong, rows.map(_._3).sum), s"group $k diverged")
    }
    // fixture must exercise base-only, batch-only AND spanning groups —
    // otherwise the coalesce-merge never actually merges
    val sides = byGroup.view.mapValues(rows => (rows.exists(!_._4), rows.exists(_._4)))
    assert(sides.values.exists { case (a, b) => a && !b }, "no base-only group")
    assert(sides.values.exists { case (a, b) => !a && b }, "no batch-only group")
    assert(sides.values.exists { case (a, b) => a && b }, "no split-spanning group")
  }

  test("g6: weights drive the distances — a cheap two-hop beats an expensive direct edge") {
    import spark.implicits._
    // 1 -> 2 costs 10 directly, but 1 -> 3 -> 2 costs 2
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "w")
    val sources = Seq(1L).toDF("node")
    def distances(iters: Int): Map[Long, Long] =
      graft.queries.Graph.ssspDistances(edges, sources, iters, broadcastState = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one sweep: only direct edges relaxed — node 2 still carries the 10
    assert(distances(1) == Map(1L -> 0L, 2L -> 10L, 3L -> 1L))
    // two sweeps: the cheap two-hop wins (hop-count BFS would keep 2 at
    // "distance 1"; the weighted fold must NOT)
    assert(distances(2) == Map(1L -> 0L, 2L -> 2L, 3L -> 1L))
  }

  test("g3: degree census satisfies the handshake lemma and covers every node") {
    val out = SparkEntry.queries("g3_degree_census")(spark, dir).collect()
      .map(r => (r.getAs[Long]("deg"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("min_node"), r.getAs[Long]("max_node")))
    val und = bruteForceEdges()
    val degOf = und.toSeq.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(out.map(_._2).sum == degOf.size, "census loses nodes")
    assert(out.map(t => t._1 * t._2).sum == 2L * und.size, "handshake lemma violated")
    val expected = degOf.groupBy(_._2).map { case (d, m) =>
      (d, m.size.toLong, m.keys.min, m.keys.max) }.toSet
    assert(out.toSet == expected, "distribution diverged from the brute-force degrees")
  }

  test("ev8: median/MAD flags agree with a driver-side recomputation") {
    val rows = SparkEntry.queries("ev8_anomaly_days")(spark, dir).collect()
      .map(r => (r.getAs[java.sql.Date]("day"), r.getAs[Long]("cnt"),
        r.getAs[Double]("med"), r.getAs[Double]("mad"), r.getAs[Boolean]("is_anomaly")))
    assert(rows.nonEmpty)
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val med = medianOf(rows.map(_._2.toDouble).toSeq)
    val mad = medianOf(rows.map(r => math.abs(r._2 - med)).toSeq)
    rows.foreach { case (day, cnt, m, md, flag) =>
      assert(m == med && md == mad, s"$day: med/mad ($m, $md) vs ($med, $mad)")
      assert(flag == (math.abs(cnt - med) > 2 * mad), s"$day: flag mismatch")
    }
  }

  test("ev6: stages are monotone and each step lands inside its conversion window") {
    val out = SparkEntry.queries("ev6_funnel")(spark, dir).collect()
    assert(out.nonEmpty)
    val stages = out.groupBy(_.getAs[Long]("stage")).view.mapValues(_.length).toMap
    assert(stages.keySet == Set(1L, 2L, 3L), s"funnel collapsed: $stages")
    // exact microseconds — Timestamp.getTime truncates to millis and a
    // strict `>` on same-millisecond events would flake
    def us(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    out.foreach { r =>
      val (t1, t2, t3) = (r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3))
      assert(t1 != null)
      if (t3 != null) assert(t2 != null, "stage-3 user missing its click")
      if (t2 != null) assert(us(t2) > us(t1) && us(t2) <= us(t1) + 6L * 3600 * 1000000)
      if (t3 != null) assert(us(t3) > us(t2) && us(t3) <= us(t2) + 12L * 3600 * 1000000)
    }
  }

  test("dq1: profile rows agree with directly-computed per-column statistics") {
    val out = SparkEntry.queries("dq1_column_profile")(spark, dir).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(out.keySet == Set("o_custkey", "o_orderstatus", "o_orderpriority"))
    val orders = SparkEntry.configure(spark).read.parquet(s"$dir/orders.parquet")
    val n = orders.count()
    out.foreach { case (cn, r) =>
      assert(r.getAs[Long]("n_rows") == n)
      assert(r.getAs[Long]("n_notnull") ==
        orders.filter(col(cn).isNotNull).count())
      assert(r.getAs[Long]("n_distinct") ==
        orders.select(cn).na.drop().distinct().count())
    }
  }

  test("emb2: quantized elements span [0, 255] and q_sum reproduces from raw vectors") {
    val out = SparkEntry.queries("emb2_quantize")(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("lo_q"), r.getAs[Long]("hi_q"), r.getAs[Long]("q_sum"))).toMap
    val raw = SparkEntry.configure(spark).read.parquet(s"$dir/embeddings.parquet")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1)).toMap
    assert(out.keySet == raw.keySet)
    raw.foreach { case (id, e) =>
      val lo = e.min.toDouble; val hi = e.max.toDouble
      val q = e.map(x => math.floor((x.toDouble - lo) * 255.0 / (hi - lo)).toLong)
      assert(q.forall(v => v >= 0 && v <= 255), s"vec $id out of int8 range")
      val (loQ, hiQ, qSum) = out(id)
      assert(loQ == math.floor(lo * 10000).toLong && hiQ == math.floor(hi * 10000).toLong)
      assert(qSum == q.sum, s"vec $id q_sum mismatch")
    }
  }

  test("cdc4: incremental merge yields dense versions, chained intervals, one current row per key") {
    val split = 1705363200000000L // Cdc4SplitUs
    val out = SparkEntry.queries("cdc4_scd2_merge")(spark, dir).collect()
    assert(out.nonEmpty)
    val byKey = out.groupBy(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
    // non-vacuous: some key has versions on BOTH sides of the split, so the
    // close-and-continue path (not just pass-through) is exercised
    assert(byKey.exists { case (_, rs) =>
      rs.exists(_.getAs[Long]("valid_from_us") < split) &&
        rs.exists(_.getAs[Long]("valid_from_us") >= split)
    }, "no key spans the split — merge path vacuous")
    byKey.foreach { case (k, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("version"))
      assert(sorted.map(_.getAs[Long]("version")).toSeq == (1L to rs.length).toSeq,
        s"$k: versions not dense")
      assert(rs.count(_.getAs[Boolean]("is_current")) == 1, s"$k: current-row count != 1")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to_us") == b.getAs[Long]("valid_from_us"),
            s"$k: interval chain broken at version ${a.getAs[Long]("version")}")
        case _ => ()
      }
      val last = sorted.last
      assert(last.getAs[Boolean]("is_current") &&
        last.isNullAt(last.fieldIndex("valid_to_us")), s"$k: tail row not open-ended")
    }
  }
}
