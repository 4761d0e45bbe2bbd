package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** Graph analytics over relational data — the co-occurrence structure a
  * curation pipeline mines for related-item signals. Complements dd7's
  * connected components (operators/ConnectedComponents): CC answers
  * "which rows form one entity", the triangle census answers "how
  * clustered is the co-occurrence graph".
  */
object Graph extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String) = Tables.wide(s, dir, n)

  // ---------------------------------------------------------------- tri1
  /** Oriented (u < v) distinct co-purchase edges, persisted: each graph
    * entry fans out over this frame several times (tri1: the edge
    * count, the degree aggregate, both wedge ends, and the closing
    * probe; pr1: both directions plus every sweep).
    */
  /** Per-order set-size ceiling for the map-side pair explosion: a set
    * of n parts flattens to n(n-1)/2 structs inside ONE task, so the
    * ceiling bounds per-task memory (2000 → ≤2M pairs ≈ tens of MB).
    * TPC-H order shape keeps real sets far below it; a pathological hub
    * order trips the measured probe and the build falls back to the
    * (key, part) equi-self-join, whose quadratic output is produced
    * across the join's tasks under AQE's skew split instead of inside
    * one flatten. Package-visible so LinkageSpec can force the fallback
    * with a zero ceiling and prove both paths build identical edges.
    */
  private[graft] val MaxOrderSetSize = 2000

  /** A [[graft.Scratch.shared]] view: tri1 and the directed variant's
    * three consumers (pr1/g2/g3) each need the identical co-purchase edge
    * frame, and the r8 sweep paid the build 4× (VERDICT r08 #4). The
    * Sized variants stay un-memoized so LinkageSpec can force fallbacks.
    */
  private def orientedEdges(s: SparkSession, dir: String): DataFrame =
    graft.Scratch.shared(s, "graph_oriented_edges", dir)(
      orientedEdgesSized(s, dir, MaxOrderSetSize))

  /** NOTE: like [[triangleCensusSized]], CONSTRUCTING this plan runs a
    * Spark job — the probe measures max per-order set size (one scan of
    * the persisted sets frame) before choosing the pair spelling;
    * measured, not assumed from SF.
    */
  private[graft] def orientedEdgesSized(
      s: SparkSession, dir: String, maxSetSize: Int): DataFrame = {
    // pair generation from per-order part SETS, not a self-join: one
    // groupBy (map-side partial collect_set) + map-side pair explosion +
    // one distinct — the (k,p)-distinct + equi-self-join spelling paid
    // two more exchanges for the same oriented pairs (steady-state
    // tri1 6.7 → 5.4 s, g2 3.8 → 3.3 s at sf0.1). sort_array makes
    // u < v by construction. The sets frame is persisted so the size
    // probe and the pair build share one lineitem scan + shuffle.
    val sets = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val maxSz = {
      val probed = sets.agg(max(size(col("ps")))).head()
      if (probed.isNullAt(0)) 0 else probed.getInt(0)
    }
    val edges =
      if (maxSz <= maxSetSize)
        sets.select(explode(expr(
          "flatten(transform(ps, (x, i) -> " +
            "transform(slice(ps, i + 2, size(ps)), y -> struct(x as u, y as v))))"))
          .as("e"))
          .select(col("e.u"), col("e.v")).distinct()
      else {
        // fallback: explode the persisted sets back to (key, part) grain
        // and equi-self-join on the order key; u < v keeps orientation.
        // The per-order quadratic output is now emitted by join tasks
        // (AQE skew-splits a hub order across several), never buffered
        // whole in one flatten.
        val kp = sets.select(col("l_orderkey"), explode(col("ps")).as("p"))
        kp.as("a")
          .join(kp.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") && col("a.p") < col("b.p"))
          .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      }
    // materialize the edge cache NOW so the sets cache can be released
    // before returning — otherwise every graph entry would hold TWO full
    // MEMORY_AND_DISK frames for its whole lifetime (the cross-entry
    // storage squeeze this round's Bench fix diagnosed). tri1's edge
    // count reads this warm cache, so the job is not wasted work.
    edges.persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    sets.unpersist()
    edges
  }

  private def directedEdges(s: SparkSession, dir: String): DataFrame =
    graft.Scratch.shared(s, "graph_directed_edges", dir)(
      directedEdgesSized(s, dir, MaxOrderSetSize))

  /** Both-direction edge frame for the Pregel-style entries (pr1/g2),
    * built in ONE pass: the pair explosion emits (x,y) AND (y,x) per
    * unordered pair and a single distinct lands the directed frame
    * directly. The former spelling (orient → persist+count → unionAll
    * the swap → persist again) paid an extra materialization job and
    * held two full MEMORY_AND_DISK frames through every sweep; the
    * sweeps only ever read the directed frame, so orientation was a
    * detour. Same measured set-size gate / self-join fallback as
    * [[orientedEdgesSized]] (fallback pairs on `=!=` instead of `<`).
    * NOTE: like the oriented build, CONSTRUCTING this plan runs the
    * probe + materialization jobs.
    */
  private[graft] def directedEdgesSized(
      s: SparkSession, dir: String, maxSetSize: Int): DataFrame = {
    val sets = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val maxSz = {
      val probed = sets.agg(max(size(col("ps")))).head()
      if (probed.isNullAt(0)) 0 else probed.getInt(0)
    }
    val edges =
      if (maxSz <= maxSetSize)
        sets.select(explode(expr(
          "flatten(transform(ps, (x, i) -> flatten(" +
            "transform(slice(ps, i + 2, size(ps)), y -> " +
            "array(struct(x as src, y as dst), struct(y as src, x as dst))))))"))
          .as("e"))
          .select(col("e.src"), col("e.dst")).distinct()
      else {
        val kp = sets.select(col("l_orderkey"), explode(col("ps")).as("p"))
        kp.as("a")
          .join(kp.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") && col("a.p") =!= col("b.p"))
          .select(col("a.p").as("src"), col("b.p").as("dst")).distinct()
      }
    edges.persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    sets.unpersist()
    edges
  }

  /** Triangle census of the co-purchase graph: parts are nodes, an edge
    * links two parts appearing in the same order. Emits edge / oriented-
    * wedge / triangle counts plus the wedge-closure rate — the global
    * clustering census.
    *
    * Scale techniques (the standard distributed-triangle playbook):
    *  - Edges are ORIENTED by key (u < v): each undirected edge exists
    *    once, each triangle is counted exactly once (a<b<c) — no /3 or
    *    /6 corrections, and the wedge join only extends ascending paths.
    *  - The wedge COUNT comes from the degree formula Σ d_in(b)·d_out(b),
    *    a two-row-per-edge aggregate — the 49M-row wedge set at sf0.1 is
    *    never materialized for counting.
    *  - Only the triangle check joins the wedge stream against edges
    *    (broadcast probes — see the inline note). Hot nodes skew the
    *    wedge join → AQE skew split, same posture as dd2's buckets.
    */
  /** Edge-count ceiling for broadcasting the edge list into the closing
    * probes: 4M oriented (long, long) edges ≈ 64 MB serialized — inside
    * any sane broadcast budget. Package-visible so LinkageSpec can force
    * the fallback with a zero threshold and prove both paths identical.
    */
  private[graft] val TriBroadcastMaxEdges = 4L * 1000 * 1000

  private def triangleCensus(s: SparkSession, dir: String): DataFrame =
    triangleCensusSized(s, dir, TriBroadcastMaxEdges)

  /** NOTE: CONSTRUCTING this plan runs a Spark job — the size gate
    * counts the persisted edge frame before choosing the probe
    * strategy, so `graft.Dev explain` pays the edge build here.
    * Inherent to a measured pre-AQE strategy choice; the count doubles
    * as the n_edges output column and the built edges stay persisted
    * for the probes that follow.
    */
  private[graft] def triangleCensusSized(
      s: SparkSession, dir: String, maxBroadcastEdges: Long): DataFrame = {
    val edges = orientedEdges(s, dir)
    // Size gate (VERDICT r05 #1): one driver-side count over the
    // persisted edge frame picks the probe strategy — measured, not
    // assumed from SF — and doubles as the n_edges output column.
    val edgeCount = edges.count()

    val wedges = edges.select(col("v").as("node"), lit(1L).as("ins"), lit(0L).as("outs"))
      .unionAll(edges.select(col("u").as("node"), lit(0L).as("ins"), lit(1L).as("outs")))
      .groupBy("node")
      .agg(sum(col("ins")).as("d_in"), sum(col("outs")).as("d_out"))
      .agg(sum(col("d_in") * col("d_out")).as("n_wedges"))

    val triangles =
      if (edgeCount <= maxBroadcastEdges) {
        // Nodes are PARTS — a bounded catalog, not the corpus — so at
        // gate scale the sorted adjacency table is broadcast-sized
        // (Σ out-degrees = m longs, ~10 MB at sf0.1) and each edge
        // (a,b) counts its closing vertices as |N⁺(a) ∩ N⁺(b)| in ONE
        // codegen merge pass (SortedLongIntersectCount): with edges
        // oriented a<b and N⁺ ascending, triangle a<b<c is counted
        // exactly once at its lowest edge. The wedge stream — 49M rows
        // at sf0.1 under the previous two-broadcast-join spelling — is
        // never materialized at all (measured 9.9 s → ~3 s).
        val adj = edges.groupBy(col("u").as("node"))
          .agg(sort_array(collect_list(col("v"))).as("nbrs"))
        edges
          .join(broadcast(adj.select(col("node").as("u"), col("nbrs").as("na"))), Seq("u"))
          .join(broadcast(adj.select(col("node").as("v"), col("nbrs").as("nb"))), Seq("v"))
          .agg(coalesce(sum(
            graft.functions.VectorFunctions.sortedLongIntersectCount(col("na"), col("nb"))),
            lit(0L)).as("n_triangles"))
      } else {
        // Degree-oriented SHUFFLED adjacency-merge fallback
        // (compact-forward): once the catalog outgrows broadcast,
        // re-orient every edge toward its higher-(degree, id) endpoint.
        // Under that acyclic total order each node's out-degree is
        // O(√m), so every adjacency list is bounded even at hub nodes —
        // which makes the SAME codegen merge-intersect the broadcast
        // path uses viable here with plain shuffle joins: edge (a,b)
        // counts |N⁺(a) ∩ N⁺(b)|, and triangle {x,y,z} with
        // π(x)<π(y)<π(z) is counted exactly once, at edge (x,y). The
        // previous fallback MATERIALIZED the wedge stream through a
        // self-join + LEFT SEMI probe — the r14 sf1 pressure test
        // measured it at 135 s for 12M edges / 493M wedges (74× the
        // sf0.1 time for 10× the data: a plan cliff at the broadcast
        // ceiling, not a data effect); the merge-intersect shape
        // shuffles only 2m adjacency-tagged edge rows and never
        // materializes a wedge.
        val deg = edges.select(col("u").as("node"))
          .unionAll(edges.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("dg"))
        val uLower = (col("du") < col("dv")) ||
          (col("du") === col("dv") && col("u") < col("v"))
        val dedges = edges
          .join(deg.select(col("node").as("u"), col("dg").as("du")), Seq("u"))
          .join(deg.select(col("node").as("v"), col("dg").as("dv")), Seq("v"))
          .select(
            when(uLower, col("u")).otherwise(col("v")).as("a"),
            when(uLower, col("v")).otherwise(col("u")).as("b"))
          .persist(StorageLevel.MEMORY_AND_DISK) // adjacency build + both probes
        val adj = dedges.groupBy(col("a").as("node"))
          .agg(sort_array(collect_list(col("b"))).as("nbrs"))
        // inner joins: a node absent from adj has no out-neighbors, so
        // its edges contribute zero to the sum either way
        dedges
          .join(adj.select(col("node").as("a"), col("nbrs").as("na")), Seq("a"))
          .join(adj.select(col("node").as("b"), col("nbrs").as("nb")), Seq("b"))
          .agg(coalesce(sum(
            graft.functions.VectorFunctions.sortedLongIntersectCount(col("na"), col("nb"))),
            lit(0L)).as("n_triangles"))
      }

    wedges.crossJoin(triangles)
      .select(
        lit(edgeCount).as("n_edges"), col("n_wedges"), col("n_triangles"),
        floor(col("n_triangles").cast(DoubleType) * 1000000.0 /
          col("n_wedges").cast(DoubleType)).cast(LongType).as("closure_ppm"))
  }

  private val triangleCensusSql =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |edges AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
      |                     AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT node, CAST(SUM(ins) AS BIGINT) AS d_in, CAST(SUM(outs) AS BIGINT) AS d_out
      |  FROM (SELECT v AS node, 1 AS ins, 0 AS outs FROM edges
      |        UNION ALL SELECT u, 0, 1 FROM edges)
      |  GROUP BY node),
      |tri AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      |  FROM edges e1 JOIN edges e2 ON e1.v = e2.u
      |       JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
      |  (SELECT CAST(SUM(d_in * d_out) AS BIGINT) FROM deg) AS n_wedges,
      |  (SELECT n_triangles FROM tri) AS n_triangles,
      |  (SELECT CAST(floor(CAST(n_triangles AS DOUBLE) * 1000000.0 /
      |     CAST((SELECT SUM(d_in * d_out) FROM deg) AS DOUBLE)) AS BIGINT)
      |   FROM tri) AS closure_ppm""".stripMargin

  // ---------------------------------------------------------------- pr1
  /** PageRank over the undirected co-purchase graph, THREE unrolled
    * power iterations in pure integer arithmetic — the same
    * oracle-an-iterative-fixpoint technique as the trained IVF codebook
    * (Similarity.trainCentroids): keep all state integer (mass in ppm
    * units, damping 0.85 as ·85//100, per-edge contribution mass//deg)
    * and both engines land on the identical fixpoint, which a recursive
    * float PageRank never would. Rounding drops sub-unit mass (no
    * redistribution) — deterministic, and irrelevant at ppm resolution.
    *
    * Scale posture: each sweep is contribution-join (shuffle on src) +
    * sum (shuffle on dst) over the directed edge frame — the standard
    * Pregel-style plan; the edge frame and per-sweep masses are the only
    * state. Three sweeps keep the lineage linear (no checkpoint needed);
    * [[pageRankN]] is the longer-horizon variant, which truncates
    * lineage per sweep with localCheckpoint — the ConnectedComponents
    * lesson — and frees each superseded sweep's blocks as soon as the
    * next is materialized. Top-20 by final mass bounds output.
    */
  private val PrIters = 3
  private val PrTopK = 20

  /** Edge-count ceiling under which the per-sweep STATE frame (node →
    * mass/distance; one row per node, nodes ≤ edges since every node
    * has an out-edge) broadcasts into the sweep join. State frames are
    * checkpoint- or aggregate-backed, so Catalyst has no usable stats
    * and would otherwise plan a shuffle join that re-exchanges the
    * persisted 2·|E| edge frame EVERY sweep; broadcasting ≤4M rows of
    * 16–24-byte state (≤ ~96 MB, the tri1 envelope) leaves the edge
    * cache map-side across all sweeps. Nodes are the bounded parts
    * catalog — the same posture as [[TriBroadcastMaxEdges]] — and the
    * gate is measured (a count on the already-materialized edge cache),
    * not assumed from SF. Package-visible so LinkageSpec can force the
    * shuffle path with a zero ceiling and prove both paths identical.
    */
  private[graft] val StateBroadcastMaxEdges = 4L * 1000 * 1000

  private def pageRank(s: SparkSession, dir: String): DataFrame =
    pageRankN(s, dir, PrIters)

  private[graft] def pageRankN(s: SparkSession, dir: String, iters: Int): DataFrame =
    pageRankSized(s, dir, iters, StateBroadcastMaxEdges)

  /** @param iters sweep count. At ≤[[PrIters]] the lineage is left
    *   linear and un-checkpointed — bit-identical plan to the r05 `pr1`
    *   entry. Beyond it, each sweep eagerly localCheckpoints (the sweep
    *   plan would otherwise nest `iters` joins deep — quadratic
    *   planning, driver OOM near ~16) and the previous sweep's
    *   checkpoint blocks are released immediately rather than waiting
    *   for ContextCleaner GC (ADVICE r05: high-diameter runs accumulate
    *   sweep blocks in executor storage).
    */
  /** `initMass`/`teleport` parameterize the restart distribution as
    * functions of the node column: pr1's globals are the defaults
    * (uniform init, constant teleport — the expression trees are
    * unchanged, so pr1's plan is bit-identical to the pre-g9 one), and
    * g9 passes the seed-set variants — ONE sweep machinery, including
    * the iters>[[PrIters]] checkpoint/release path both callers get.
    */
  private[graft] def pageRankSized(
      s: SparkSession, dir: String, iters: Int, maxBroadcastEdges: Long,
      initMass: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        _ => lit(1000000L),
      teleport: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        _ => lit(150000L)): DataFrame = {
    val edges = directedEdges(s, dir)
    // measured state-broadcast gate; the count reads the cache the
    // directedEdges build just materialized, so it is metadata-cheap
    val broadcastState = edges.count() <= maxBroadcastEdges
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val checkpointed = iters > PrIters

    var masses = deg.select(col("node"), initMass(col("node")).as("mass"), col("deg"))
    var prevBlocks: Option[org.apache.spark.rdd.RDD[_]] = None
    for (_ <- 1 to iters) {
      val state = masses.withColumnRenamed("node", "src")
      val next = edges
        .join(if (broadcastState) broadcast(state) else state, Seq("src"))
        .select(col("dst").as("node"), expr("mass DIV deg").as("contrib"))
        .groupBy("node")
        .agg((teleport(col("node")) + expr("(sum(contrib) * 85) DIV 100")).as("mass"))
      masses = next.join(if (broadcastState) broadcast(deg) else deg, Seq("node"))
      if (checkpointed) {
        masses = masses.localCheckpoint() // eager: materializes the sweep
        prevBlocks.foreach(_.unpersist(blocking = false))
        prevBlocks = org.apache.spark.sql.GraftShims.checkpointedRdd(masses)
      }
    }
    masses.select(col("node"), col("mass"))
      .orderBy(col("mass").desc_nulls_first, col("node").asc_nulls_first)
      .limit(PrTopK)
  }

  private def prSweepSql(prev: String, next: String, teleportSql: String): String =
    s"""$next AS (
       |  SELECT e.dst AS node,
       |    CAST($teleportSql + (SUM(m.mass // m.deg) * 85) // 100 AS BIGINT) AS mass
       |  FROM edges e JOIN $prev m ON e.src = m.node GROUP BY e.dst),
       |${next}d AS (SELECT $next.node, $next.mass, deg.deg
       |             FROM $next JOIN deg ON $next.node = deg.node)""".stripMargin

  /** The oracle twin of [[pageRankSized]]'s parameterization: one CTE
    * unroll, the restart distribution injected as SQL fragments.
    */
  private def pageRankSqlWith(initMassSql: String, teleportSql: String): String = {
    val sweeps = (1 to PrIters)
      .map(i => prSweepSql(s"m${i - 1}d", s"m$i", teleportSql)).mkString(",\n")
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |und AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
       |                     AND a.l_partkey < b.l_partkey),
       |edges AS (SELECT u AS src, v AS dst FROM und
       |          UNION ALL SELECT v, u FROM und),
       |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
       |        FROM edges GROUP BY src),
       |m0d AS (SELECT node, CAST($initMassSql AS BIGINT) AS mass, deg FROM deg),
       |$sweeps
       |SELECT node, mass FROM m${PrIters}d
       |ORDER BY mass DESC NULLS FIRST, node NULLS FIRST LIMIT $PrTopK""".stripMargin
  }

  private val pageRankSql = pageRankSqlWith("1000000", "150000")

  // ---------------------------------------------------------------- g9
  /** PERSONALIZED PageRank — pr1 with the teleport restricted to a
    * seed set, the graph primitive a curation pipeline uses to
    * propagate trust/quality outward from a vetted seed corpus (the
    * "harmonic sampling" shape): random walks restart only at seeds,
    * so mass measures proximity to the seed set, not global
    * centrality. Seeds are the 2% of parts with `partkey % 50 = 0`
    * (computable per row — the seed membership never needs a join);
    * non-seeds start at zero and receive the damped neighbor mass
    * only. Same integer fixpoint technique as pr1 (ppm mass units,
    * 85//100 damping, mass//deg contributions), three unrolled sweeps,
    * so both engines land on the identical integers.
    *
    * Scale posture: identical to pr1 — per sweep one contribution
    * join (shuffle on src, or state broadcast under the measured
    * ≤[[StateBroadcastMaxEdges]] gate) plus one dst-keyed aggregate;
    * the seed indicator is an expression over the node id, costing
    * nothing. Top-20 by final mass bounds output.
    */
  private def personalizedPageRank(s: SparkSession, dir: String): DataFrame =
    pageRankSized(s, dir, PrIters, StateBroadcastMaxEdges,
      initMass = n => when(n % 50 === 0, lit(1000000L)).otherwise(lit(0L)),
      teleport = n => when(n % 50 === 0, lit(150000L)).otherwise(lit(0L)))

  private val personalizedPageRankSql = pageRankSqlWith(
    initMassSql = "CASE WHEN node % 50 = 0 THEN 1000000 ELSE 0 END",
    teleportSql = "CASE WHEN e.dst % 50 = 0 THEN 150000 ELSE 0 END")

  // ---------------------------------------------------------------- g7
  /** Label-propagation communities (synchronous LPA) — the community
    * detector beside dd7's connected components: CC answers "which
    * nodes are reachable", LPA answers "which nodes CLUSTER" (a bridge
    * edge connects components into one CC but LPA communities resist
    * crossing it). Each of [[LpaSweeps]] synchronous sweeps every node
    * adopts the MOST FREQUENT label among its neighbors, ties broken by
    * the smallest label — the deterministic variant of Raghavan et
    * al.'s algorithm (random tie-breaking would be un-oracle-able;
    * min-tie-break is the standard reproducible spelling). Output is
    * the community census: per surviving label, member count and id
    * range.
    *
    * Scale posture: the same Pregel plan shape as pr1 — per sweep, one
    * shuffle-join of the edge frame against the (node, label) state and
    * one two-level aggregate whose exchanges carry (node, label) grain,
    * never neighbor-list grain; the majority vote is a map-side-partial
    * count + min_by, not a window. Sweeps are bounded ([[LpaSweeps]]),
    * lineage stays [[LpaSweeps]] joins deep — under the checkpoint
    * threshold pr1 documents.
    */
  private val LpaSweeps = 3

  /** Final (node, label) frame after [[LpaSweeps]] synchronous sweeps —
    * shared by g7's census and g8's modularity audit, so the sweep cost
    * is paid once per context ([[graft.Scratch.shared]], same posture as
    * the edge frames). */
  private def lpaLabels(s: SparkSession, dir: String): DataFrame =
    graft.Scratch.shared(s, "graph_lpa_labels", dir)(lpaLabelsBuild(s, dir))

  private def lpaLabelsBuild(s: SparkSession, dir: String): DataFrame = {
    val edges = directedEdges(s, dir) // (src, dst), both directions
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to LpaSweeps) {
      labels = edges
        .join(labels.withColumnRenamed("node", "dst").withColumnRenamed("label", "nl"), Seq("dst"))
        .groupBy(col("src"), col("nl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        // minimize (-count, label): majority label, smallest on ties
        .agg(min_by(col("nl"), struct((-col("c")).as("nc"), col("nl"))).as("label"))
        .select(col("src").as("node"), col("label"))
    }
    labels
  }

  private def labelPropagation(s: SparkSession, dir: String): DataFrame = {
    lpaLabels(s, dir).groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy(col("label").asc_nulls_first)
  }

  private def lpaSweepSql(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT src AS node, nl AS label FROM (
       |    SELECT e.src, l.label AS nl,
       |      row_number() OVER (PARTITION BY e.src
       |        ORDER BY COUNT(*) DESC, l.label ASC) AS rn
       |    FROM edges e JOIN $prev l ON e.dst = l.node
       |    GROUP BY e.src, l.label) WHERE rn = 1)""".stripMargin

  /** Shared oracle CTE prefix: co-purchase edges (oriented `und`, both-
    * direction `edges`) and the [[LpaSweeps]] unrolled label sweeps —
    * g7 reads the census off `l$LpaSweeps`, g8 scores it. */
  private val lpaCtes = {
    val sweeps = (1 to LpaSweeps)
      .map(i => lpaSweepSql(s"l${i - 1}", s"l$i")).mkString(",\n")
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |und AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
       |                     AND a.l_partkey < b.l_partkey),
       |edges AS (SELECT u AS src, v AS dst FROM und
       |          UNION ALL SELECT v, u FROM und),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |$sweeps""".stripMargin
  }

  private val labelPropagationSql =
    s"""$lpaCtes
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  MIN(node) AS min_node, MAX(node) AS max_node
       |FROM l$LpaSweeps GROUP BY label
       |ORDER BY label NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- g8
  /** Newman MODULARITY of the g7 partition — the quality score that
    * makes community detection auditable instead of taken on faith:
    * Q = Σ_c [e_c/m − (d_c/2m)²] over communities c, with e_c the
    * intra-community undirected edge count, d_c the community degree
    * sum, m the total undirected edge count. Emitted per community
    * (membership, intra edges, degree mass, floored ppm contribution)
    * plus the global Q in ppm — integer-exact end to end: the single
    * shared denominator is 4m², numerators ride DECIMAL(38,0) (4m·e_c
    * and d_c² reach ~4m² ≈ 10¹³ at sf0.1 and overflow Long beyond
    * sf~3), and floor-of-signed-division uses the pmod subtraction on
    * both engines (a community can score NEGATIVE — fewer intra edges
    * than its degree mass predicts — so truncation vs floor diverges).
    * The global Q floors the summed numerator once, not the sum of
    * per-community floors.
    *
    * Scale posture: reuses the memoized oriented + directed edge
    * frames (zero extra corpus passes); the heavy ops are two
    * edge-grain hash joins against the (node, label) frame — the same
    * shuffle shape as one LPA sweep — and everything after is
    * label-grain (≤ nodes). The 1-row m / ΣQ frames attach via
    * broadcast cross join, the established scalar pattern.
    */
  private def modularityScore(s: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val und = orientedEdges(s, dir)                  // (u, v), u < v
    // three consumers below (degree sum + both endpoint joins) read the
    // memoized node-grain label frame — the 3-sweep lineage runs once
    val labels = lpaLabels(s, dir)                   // (node, label)
    // degree = both-direction incidence count; every labeled node has
    // at least one edge by construction, so the join is inner and lossless
    val deg = directedEdges(s, dir)
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val m1 = und.agg(count(lit(1)).cast(dec).as("m"))
    val dsum = labels.join(deg, Seq("node"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("degree_sum"))
    val intra = und
      .join(labels.select(col("node").as("u"), col("label").as("lu")), Seq("u"))
      .join(labels.select(col("node").as("v"), col("label").as("lv")), Seq("v"))
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("label"))
      .agg(count(lit(1)).as("intra_edges"))
    val num = dsum
      .join(intra, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"))
      .crossJoin(broadcast(m1))
      .select(col("label"), col("n_nodes"), col("intra_edges"),
        col("degree_sum"),
        ((lit(4).cast(dec) * col("m") * col("intra_edges").cast(dec)
          - col("degree_sum").cast(dec) * col("degree_sum").cast(dec))
          * lit(1000000).cast(dec)).as("a"),
        (lit(4).cast(dec) * col("m") * col("m")).as("den"))
    val tot = num.agg(sum(col("a")).as("ta"), max(col("den")).as("tden"))
      .select(expr(
        "CAST((ta - ((ta % tden + tden) % tden)) DIV tden AS BIGINT)").as("q_ppm"))
    num.crossJoin(broadcast(tot))
      .select(col("label"), col("n_nodes"), col("intra_edges"),
        col("degree_sum"),
        expr("CAST((a - ((a % den + den) % den)) DIV den AS BIGINT)")
          .as("contribution_ppm"),
        col("q_ppm"))
      .orderBy(col("label").asc_nulls_first)
  }

  private val modularityScoreSql =
    s"""$lpaCtes,
       |deg AS (
       |  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY src),
       |mm AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM und),
       |lab AS (SELECT node, label FROM l$LpaSweeps),
       |dsum AS (
       |  SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(d.deg) AS BIGINT) AS degree_sum
       |  FROM lab l JOIN deg d ON l.node = d.node GROUP BY l.label),
       |intra AS (
       |  SELECT lu.label, CAST(COUNT(*) AS BIGINT) AS intra_edges
       |  FROM und e
       |    JOIN lab lu ON e.u = lu.node
       |    JOIN lab lv ON e.v = lv.node
       |  WHERE lu.label = lv.label GROUP BY lu.label),
       |num AS (
       |  SELECT ds.label, ds.n_nodes,
       |    COALESCE(i.intra_edges, 0) AS intra_edges, ds.degree_sum,
       |    (4 * m * CAST(COALESCE(i.intra_edges, 0) AS HUGEINT)
       |      - CAST(ds.degree_sum AS HUGEINT) * ds.degree_sum) * 1000000 AS a,
       |    4 * m * m AS den
       |  FROM dsum ds LEFT JOIN intra i ON ds.label = i.label CROSS JOIN mm),
       |tot AS (
       |  SELECT SUM(a) AS ta, MAX(den) AS tden FROM num)
       |SELECT label, n_nodes, intra_edges, degree_sum,
       |  CAST((a - ((a % den + den) % den)) // den AS BIGINT) AS contribution_ppm,
       |  CAST((ta - ((ta % tden + tden) % tden)) // tden AS BIGINT) AS q_ppm
       |FROM num CROSS JOIN tot
       |ORDER BY label NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- g2
  /** Multi-source BFS layers: minimal hop distance from a deterministic
    * source set (the [[BfsSources]] lowest node ids) to every node within
    * [[BfsSweeps]] hops, aggregated to one row per layer (nodes reached,
    * id range) — the reachability census behind "how far is every product
    * from the catalog's core".
    *
    * Each sweep is the standard frontier relaxation: current distances ∪
    * (neighbor distances + 1) → min per node — one shuffle-join on src
    * plus one min-aggregate on node per sweep, the same Pregel plan shape
    * as pr1, with state = (node, d) longs only. EVERY sweep
    * localCheckpoints (+ releases the superseded sweep's blocks): the
    * relaxation references the distance frame twice (probe + union), so
    * un-truncated lineage doubles per sweep — 2^N copies of the
    * small-frame shuffle DAG (pr1 can defer this to long horizons
    * because its sweep touches each state frame once). The oracle
    * restates the sweeps CTE-for-CTE (a WITH RECURSIVE path walk would
    * enumerate all ≤N-hop paths — degree^N of them on a dense
    * co-purchase graph — where the per-sweep min-fold stays
    * node-bounded in both engines).
    */
  private val BfsSweeps = 4
  private val BfsSources = 5

  private def bfsLayers(s: SparkSession, dir: String): DataFrame =
    bfsLayersN(s, dir, BfsSweeps)

  private[graft] def bfsLayersN(s: SparkSession, dir: String, iters: Int): DataFrame =
    bfsLayersSized(s, dir, iters, StateBroadcastMaxEdges)

  private[graft] def bfsLayersSized(
      s: SparkSession, dir: String, iters: Int, maxBroadcastEdges: Long): DataFrame = {
    val edges = directedEdges(s, dir)
    // measured state-broadcast gate (see StateBroadcastMaxEdges): the
    // (node, d) frame is node-bounded, so at catalog scale each sweep's
    // relaxation probes it map-side against the persisted edge cache
    // instead of re-exchanging the edge frame every sweep
    val broadcastState = edges.count() <= maxBroadcastEdges
    val sources = edges.select(col("src").as("node")).distinct()
      .orderBy(col("node").asc_nulls_first).limit(BfsSources)
    var dist = sources.select(col("node"), lit(0L).as("d"))
    var prevBlocks: Option[org.apache.spark.rdd.RDD[_]] = None
    for (_ <- 1 to iters) {
      val relaxed = edges
        .join(if (broadcastState) broadcast(dist) else dist,
          dist("node") === edges("src"))
        .select(col("dst").as("node"), (col("d") + 1L).as("d"))
        .unionAll(dist)
        .groupBy("node")
        .agg(min(col("d")).as("d"))
      // EVERY sweep truncates: unlike pr1 (one dist reference per
      // sweep), the relaxation references `dist` twice (probe + union),
      // so an un-truncated lineage doubles per sweep — 2^N copies of
      // the small-frame shuffle DAG, measured 30 s vs 3 s at sf0.1 for
      // N=4. localCheckpoint is eager: each sweep materializes the
      // (node, d) frame once and the next plans against the blocks.
      dist = relaxed.localCheckpoint()
      prevBlocks.foreach(_.unpersist(blocking = false))
      prevBlocks = org.apache.spark.sql.GraftShims.checkpointedRdd(dist)
    }
    dist.groupBy("d")
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy(col("d").asc_nulls_first)
  }

  // ---------------------------------------------------------------- g6
  /** WEIGHTED single-source(-set) shortest paths — the missing edge
    * beside g2's unweighted BFS: Bellman–Ford frontier relaxation where
    * a sweep adds the EDGE WEIGHT instead of 1, so a cheap two-hop path
    * can beat an expensive direct edge (the property the spec plants).
    * Weights are the closed form 1 + (src·7 + dst·3) mod 5 over the
    * co-purchase edge frame — deterministic, integer, restatable in
    * the oracle verbatim. After N sweeps every node whose optimal path
    * uses ≤ N edges carries its exact shortest-path cost (the standard
    * Bellman–Ford invariant); both engines run the SAME N sweeps, so
    * the census agrees row-for-row without needing the global
    * fixpoint. Same Pregel plan shape, state-broadcast gate, and
    * per-sweep localCheckpoint + superseded-block release as g2 (the
    * relaxation references `dist` twice, so un-truncated lineage
    * doubles per sweep).
    */
  private val SsspSweeps = 4
  private val SsspSources = 5

  private def ssspLayers(s: SparkSession, dir: String): DataFrame =
    ssspSized(s, dir, SsspSweeps, StateBroadcastMaxEdges)

  private[graft] def ssspSized(
      s: SparkSession, dir: String, iters: Int, maxBroadcastEdges: Long): DataFrame = {
    val base = directedEdges(s, dir)
    val edges = base.select(col("src"), col("dst"),
      (lit(1L) + (col("src") * 7L + col("dst") * 3L) % 5L).as("w"))
    val broadcastState = base.count() <= maxBroadcastEdges
    val sources = edges.select(col("src").as("node")).distinct()
      .orderBy(col("node").asc_nulls_first).limit(SsspSources)
    ssspDistances(edges, sources, iters, broadcastState)
      .groupBy("d")
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy(col("d").asc_nulls_first)
  }

  /** The N-sweep Bellman–Ford fold over an arbitrary weighted edge
    * frame (src, dst, w) — package-visible so the spec can plant a
    * cheap-two-hop-beats-expensive-direct-edge graph and pin that the
    * weights (not the hop count) drive the result.
    */
  private[graft] def ssspDistances(edges: DataFrame,
      sources: DataFrame, iters: Int, broadcastState: Boolean): DataFrame = {
    var dist = sources.select(col("node"), lit(0L).as("d"))
    var prevBlocks: Option[org.apache.spark.rdd.RDD[_]] = None
    for (_ <- 1 to iters) {
      val relaxed = edges
        .join(if (broadcastState) broadcast(dist) else dist,
          dist("node") === edges("src"))
        .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
        .unionAll(dist)
        .groupBy("node")
        .agg(min(col("d")).as("d"))
      dist = relaxed.localCheckpoint()
      prevBlocks.foreach(_.unpersist(blocking = false))
      prevBlocks = org.apache.spark.sql.GraftShims.checkpointedRdd(dist)
    }
    dist
  }

  private def ssspSweepSql(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT node, CAST(MIN(d) AS BIGINT) AS d FROM (
       |    SELECT e.dst AS node, m.d + e.w AS d
       |    FROM $prev m JOIN edges e ON e.src = m.node
       |    UNION ALL SELECT node, d FROM $prev) GROUP BY node)""".stripMargin

  private val ssspLayersSql = {
    val sweeps = (1 to SsspSweeps).map(i => ssspSweepSql(s"s${i - 1}", s"s$i")).mkString(",\n")
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |und AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
       |                     AND a.l_partkey < b.l_partkey),
       |edges AS (
       |  SELECT src, dst, 1 + (src * 7 + dst * 3) % 5 AS w FROM (
       |    SELECT u AS src, v AS dst FROM und
       |    UNION ALL SELECT v, u FROM und)),
       |s0 AS (SELECT node, CAST(0 AS BIGINT) AS d FROM (
       |         SELECT DISTINCT src AS node FROM edges
       |         ORDER BY node LIMIT $SsspSources)),
       |$sweeps
       |SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  MIN(node) AS min_node, MAX(node) AS max_node
       |FROM s$SsspSweeps GROUP BY d
       |ORDER BY d NULLS FIRST""".stripMargin
  }

  private def bfsSweepSql(prev: String, next: String): String =
    s"""$next AS (
       |  SELECT node, CAST(MIN(d) AS BIGINT) AS d FROM (
       |    SELECT e.dst AS node, m.d + 1 AS d
       |    FROM $prev m JOIN edges e ON e.src = m.node
       |    UNION ALL SELECT node, d FROM $prev) GROUP BY node)""".stripMargin

  private val bfsLayersSql = {
    val sweeps = (1 to BfsSweeps).map(i => bfsSweepSql(s"s${i - 1}", s"s$i")).mkString(",\n")
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |und AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
       |                     AND a.l_partkey < b.l_partkey),
       |edges AS (SELECT u AS src, v AS dst FROM und
       |          UNION ALL SELECT v, u FROM und),
       |s0 AS (SELECT node, CAST(0 AS BIGINT) AS d FROM (
       |         SELECT DISTINCT src AS node FROM edges
       |         ORDER BY node LIMIT $BfsSources)),
       |$sweeps
       |SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  MIN(node) AS min_node, MAX(node) AS max_node
       |FROM s$BfsSweeps GROUP BY d
       |ORDER BY d NULLS FIRST""".stripMargin
  }

  // ---------------------------------------------------------------- g3
  /** Degree distribution of the co-purchase graph — the power-law /
    * hub audit read before every other graph job here: tri1's broadcast
    * gate, pr1/g2's skew posture and dd2-style AQE skew splits all
    * assume "bounded hubs, heavy tail", and this table is where that
    * assumption is checked. One row per distinct degree with the node
    * count and the id range of its members.
    *
    * Scale posture: per-node degree is one hash aggregate over the
    * persisted directed edge frame (out-degree = undirected degree by
    * construction); the distribution is a second aggregate whose
    * exchange carries at most #distinct-degrees rows per task after the
    * map-side combine — the corpus never reaches the second shuffle.
    */
  private def degreeCensus(s: SparkSession, dir: String): DataFrame =
    directedEdges(s, dir)
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .groupBy("deg")
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy(col("deg").asc_nulls_first)

  private val degreeCensusSql =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |und AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
      |                     AND a.l_partkey < b.l_partkey),
      |edges AS (SELECT u AS src, v AS dst FROM und
      |          UNION ALL SELECT v, u FROM und),
      |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
      |        FROM edges GROUP BY src)
      |SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |  MIN(node) AS min_node, MAX(node) AS max_node
      |FROM deg GROUP BY deg
      |ORDER BY deg NULLS FIRST""".stripMargin

  // ----------------------------------------------------------------- g4
  /** Per-node clustering coefficient — the LOCAL closure table behind
    * tri1's global census (community-structure / spam-subgraph audit:
    * a co-purchase hub with near-zero closure is a bot basket, a dense
    * clique a bundle). C(v) = 2·tri(v)/(deg(v)·(deg(v)−1)) in floor
    * ppm.
    *
    * Per-node triangle counts WITHOUT materializing the triangle (or
    * wedge) stream: tri1's oriented adjacency-merge kernel, VALUES
    * variant — for every oriented edge (u,v) the codegen merge emits
    * the closing vertices N⁺(u) ∩ N⁺(v), so each triangle surfaces
    * exactly once (at its lowest edge) carrying all three corner ids;
    * a corner explosion + one hash aggregate then credits every
    * triangle to its three nodes. The per-edge intermediate is the
    * edge's TRIANGLE list (Σ = 3·#triangles), not its neighborhood.
    * The previous spelling joined every DIRECTED edge against the full
    * undirected adjacency and counted — the carried array payloads
    * total Σ deg² (two wedge-sets' worth), which the r14 sf1 sweep
    * measured at 89 s / 62× for 10× the data: the same plan-cliff
    * family as tri1's old fallback, one shape further disguised (it
    * never materialized wedges as ROWS, but shipped them as array
    * payloads through two joins). Nodes are the bounded parts catalog,
    * so the adjacency table broadcasts under the same measured gate as
    * tri1; past the ceiling the SAME plan runs with shuffle joins —
    * no separate fallback shape. deg ≥ 2 rows only (C is undefined
    * below that).
    */
  private[graft] val CcBroadcastMaxDirected = 4L * 1000 * 1000

  private def clusteringCoeff(s: SparkSession, dir: String): DataFrame =
    clusteringCoeffSized(s, dir, CcBroadcastMaxDirected)

  /** NOTE: like tri1, CONSTRUCTING this plan runs a Spark job (the
    * broadcast gate counts the persisted directed edge frame).
    * Package-visible so LinkageSpec can force the shuffled path and
    * prove both paths identical.
    */
  private[graft] def clusteringCoeffSized(
      s: SparkSession, dir: String, maxBroadcastDirected: Long): DataFrame = {
    val f = directedEdges(s, dir)
    val dirCount = f.count()
    val useBroadcast = dirCount <= maxBroadcastDirected
    val edges = orientedEdges(s, dir) // u < v, shared view
    val deg = f.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    // Corner attribution is ORIENTATION-independent (the closing vertex
    // ids come out of the kernel), so past the broadcast ceiling the
    // edges re-orient compact-forward exactly like tri1's fallback:
    // out-degrees cap at O(√m), which bounds the per-edge adjacency
    // payload the two SHUFFLE joins carry (under natural u<v order a
    // hub's out-list is O(deg), and Σ outdeg² is wedge-order again —
    // the r14 sf1 re-measure showed natural-order shuffle joins only
    // bought 89 → 67 s; compact-forward is the real lever).
    val base =
      if (useBroadcast) edges.select(col("u").as("a"), col("v").as("b"))
      else {
        val uLower = (col("du") < col("dv")) ||
          (col("du") === col("dv") && col("u") < col("v"))
        edges
          .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
          .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
          .select(
            when(uLower, col("u")).otherwise(col("v")).as("a"),
            when(uLower, col("v")).otherwise(col("u")).as("b"))
          .persist(StorageLevel.MEMORY_AND_DISK) // adjacency build + probe side
      }
    val adj = base.groupBy(col("a").as("node"))
      .agg(sort_array(collect_list(col("b"))).as("nbrs"))
    def gate(df: DataFrame): DataFrame = if (useBroadcast) broadcast(df) else df
    val withClosers = base
      .join(gate(adj.select(col("node").as("a"), col("nbrs").as("na"))), Seq("a"))
      .join(gate(adj.select(col("node").as("b"), col("nbrs").as("nb"))), Seq("b"))
      .select(col("a").as("u"), col("b").as("v"),
        graft.functions.VectorFunctions.sortedLongIntersectValues(
          col("na"), col("nb")).as("zs"))
      .filter(size(col("zs")) > 0)
    // credit each triangle to its three corners in ONE pass over the
    // join subtree (a 3-way union would execute the joins + intersects
    // three times): per edge the corner multiset is zs ⊎ u×|zs| ⊎ v×|zs|
    // — every triangle contributes each of its corners exactly once
    val tri = withClosers
      .select(explode(concat(col("zs"),
        array_repeat(col("u"), size(col("zs"))),
        array_repeat(col("v"), size(col("zs"))))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(tri, Seq("node"), "left")
      .filter(col("deg") >= 2)
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        expr("(coalesce(n_tri, 0) * 2 * 1000000) DIV (deg * (deg - 1))").as("coeff_ppm"))
      .orderBy(col("node").asc_nulls_first)
  }

  private val clusteringCoeffSql =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |und AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
      |                     AND a.l_partkey < b.l_partkey),
      |fedges AS (SELECT u AS a, v AS b FROM und UNION ALL SELECT v, u FROM und),
      |deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
      |        FROM fedges GROUP BY a),
      |closed AS (
      |  SELECT e1.a AS node, CAST(COUNT(*) AS BIGINT) AS closed2
      |  FROM fedges e1 JOIN fedges e2 ON e1.b = e2.a
      |       JOIN fedges e3 ON e3.a = e1.a AND e3.b = e2.b
      |  GROUP BY e1.a)
      |SELECT d.node, d.deg,
      |  COALESCE(c.closed2, 0) // 2 AS n_tri,
      |  (COALESCE(c.closed2, 0) * 1000000) // (d.deg * (d.deg - 1)) AS coeff_ppm
      |FROM deg d LEFT JOIN closed c ON c.node = d.node
      |WHERE d.deg >= 2
      |ORDER BY d.node NULLS FIRST""".stripMargin

  // ----------------------------------------------------------------- g5
  /** k-core peeling (k = 2, three unrolled sweeps) over the REPEAT
    * co-purchase graph — the subgraph TRIMMING operator beside g4's
    * closure audit: repeatedly drop nodes with degree < k and the edges
    * they carry; what survives is the densely-engaged core. The raw
    * co-purchase graph is too dense for any fixed k (min degree 42 at
    * sf0.01 — peeling would be vacuous), so the edge set is first
    * SPARSIFIED to pairs co-purchased in ≥ 2 distinct orders (repeat
    * co-occurrence — the signal edge weight every co-purchase miner
    * thresholds on), where k = 2 both removes nodes AND leaves
    * survivors at every test scale (k = 3 empties the sparser sf0.1
    * repeat graph entirely).
    * Three sweeps are unrolled like pr1's power iterations — each is
    * one degree aggregate + two LEFT SEMI joins restricting the edge
    * frame to surviving endpoints — and the oracle restates every
    * sweep CTE-for-CTE, so the hash proves the peeling order. Beyond a
    * fixed unroll the loop is ConnectedComponents' checkpoint-per-sweep
    * posture (lineage truncation + superseded-block release).
    */
  private val KCoreK = 2
  private val KCoreSweeps = 3

  private def kCore(s: SparkSession, dir: String): DataFrame = {
    // repeat-pair sparsification: pairs KEEP their multiplicity and only
    // w >= 2 survive — a different edge set than the shared edge views,
    // built with the same per-order SET EXPLOSION as orientedEdgesSized
    // (map-side pair generation off one groupBy; the equi-self-join
    // spelling paid an extra exchange and measured 5.8 s vs ~3 s at
    // sf0.1). The oracle keeps the self-join spelling, so the hash also
    // proves explosion ≡ join.
    val und = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x as u, y as v))))"))
        .as("e"))
      .groupBy(col("e.u").as("u"), col("e.v").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
    // one-pass symmetrization (r18 opt, ConnectedComponents' spelling):
    // the union-with-swap form executed the whole und subtree — the
    // set-explosion pair generation + (u,v) count aggregate — once per
    // orientation when e0 first materializes; exploding both
    // orientations from one read halves the pair-generation work.
    val e0 = und
      .select(explode(array(
        struct(col("u").as("a"), col("v").as("b")),
        struct(col("v").as("a"), col("u").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    peelKCore(e0, KCoreK, KCoreSweeps)
      .groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
      .orderBy(col("node").asc_nulls_first)
  }

  /** The materialized peel loop over a persisted symmetric edge frame
    * (a, b) — each sweep persists + counts before the next reads it
    * (the ConnectedComponents lineage posture: the lazy chain would
    * recompute every prior sweep's subtree at each keep/restrict use,
    * measured ~5 s → ~3 s at sf0.1), and superseded blocks release
    * immediately.
    *
    * r19 opt (VERDICT r18 #1): CONVERGENCE EARLY-EXIT. Each sweep's
    * output is a semi-join RESTRICTION of its input (next ⊆ e), so
    * |next| = |e| implies next = e exactly, and peeling is monotone: a
    * stable frame passes through every remaining sweep unchanged.
    * Stopping at the fixpoint therefore returns bit-identically what
    * the fixed unroll returns (the oracle still states all `sweeps`
    * CTEs — they are identities past the fixpoint; GraphKCoreSpec pins
    * early-exit ≡ full unroll on a sweep-1-stable graph). The fixpoint
    * test rides the counts the materialization posture already pays —
    * no extra job beyond the up-front |e0| (which triggers e0's persist
    * materialization, work sweep 1's degree aggregate was about to pay
    * anyway). At sf0.1 the repeat graph never stabilizes inside the
    * unroll (7146 → 726 → 110 → 20 edges — all three sweeps run); at
    * sf0.001 it is stable after the first count (4648 = fixpoint), so
    * two whole sweep job chains drop out there and at any converged
    * production scale.
    */
  private[graft] def peelKCore(e0: DataFrame, k: Int, sweeps: Int,
      earlyExit: Boolean = true): DataFrame = {
    var peeled = e0
    var prevCount = e0.count()
    var sweep = 0
    var stable = false
    while (sweep < sweeps && !stable) {
      val e = peeled
      val keep = e.groupBy("a").agg(count(lit(1)).as("c"))
        .filter(col("c") >= k).select("a")
      // both endpoint restrictions probe the SAME keep frame — spelled
      // as a join CONDITION on the unprojected frame (not a renamed
      // copy) so the two broadcast subtrees canonicalize identically
      // and ReuseExchange ships ONE degree-aggregate execution per
      // sweep instead of two (r18 opt; the a-side/b-side rename made
      // the subtrees differ and each broadcast re-ran the aggregate)
      val next = e.as("e")
        .join(keep.as("ka"), col("e.a") === col("ka.a"), "left_semi")
        .join(keep.as("kb"), col("e.b") === col("kb.a"), "left_semi")
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = next.count()
      e.unpersist()
      stable = earlyExit && n == prevCount
      prevCount = n
      peeled = next
      sweep += 1
    }
    peeled
  }

  private val kCoreSql = {
    val sweeps = (1 to KCoreSweeps).map { i =>
      s"""k$i AS (SELECT a FROM (SELECT a, COUNT(*) AS c FROM e${i - 1} GROUP BY a)
         |        WHERE c >= $KCoreK),
         |e$i AS (SELECT e.a, e.b FROM e${i - 1} e
         |        JOIN k$i ka ON e.a = ka.a JOIN k$i kb ON e.b = kb.a)""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |und AS (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS w
       |    FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
       |                       AND a.l_partkey < b.l_partkey
       |    GROUP BY 1, 2)
       |  WHERE w >= 2),
       |e0 AS (SELECT u AS a, v AS b FROM und UNION ALL SELECT v, u FROM und),
       |$sweeps
       |SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
       |FROM e$KCoreSweeps GROUP BY a
       |ORDER BY node NULLS FIRST""".stripMargin
  }

  override val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g5_kcore" -> (kCore _),
    "g4_clustering_coeff" -> (clusteringCoeff _),
    "tri1_triangle_census" -> (triangleCensus _),
    "pr1_pagerank" -> (pageRank _),
    "g9_personalized_pagerank" -> (personalizedPageRank _),
    "g2_bfs_layers" -> (bfsLayers _),
    "g6_sssp_weighted" -> (ssspLayers _),
    "g7_label_propagation" -> (labelPropagation _),
    "g8_modularity" -> (modularityScore _),
    "g3_degree_census" -> (degreeCensus _))

  /** g5 stage decomposition (r19 opt round, `graft.Dev time` only): the peel
    * loop's convergence early-exit cannot fire at sf0.1 (the repeat
    * graph still shrinks at every sweep: 7146 → 726 → 110 → 20 edges),
    * so the gate number is bounded below by the sparsified-edge BUILD +
    * three materialized sweeps. This probe is exactly the e0 build —
    * the gate pipeline truncated before the first sweep.
    */
  override val probes: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g5_probe_e0" -> ((s: SparkSession, dir: String) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> " +
            "transform(slice(ps, i + 2, size(ps)), y -> struct(x as u, y as v))))"))
          .as("e"))
        .groupBy(col("e.u").as("u"), col("e.v").as("v"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(explode(array(
          struct(col("u").as("a"), col("v").as("b")),
          struct(col("v").as("a"), col("u").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))))

  override val oracle: Map[String, String] = Map(
    "g5_kcore" -> kCoreSql,
    "g4_clustering_coeff" -> clusteringCoeffSql,
    "tri1_triangle_census" -> triangleCensusSql,
    "pr1_pagerank" -> pageRankSql,
    "g9_personalized_pagerank" -> personalizedPageRankSql,
    "g2_bfs_layers" -> bfsLayersSql,
    "g6_sssp_weighted" -> ssspLayersSql,
    "g7_label_propagation" -> labelPropagationSql,
    "g8_modularity" -> modularityScoreSql,
    "g3_degree_census" -> degreeCensusSql)
}
