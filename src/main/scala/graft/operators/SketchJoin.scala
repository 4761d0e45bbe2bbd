package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.udaf
import graft.functions.MisraGriesAgg

/** Sketch-planned left equi-join — the DECISION layer over the join
  * spellings this library already carries: measure the inputs with
  * bounded-state probes, then pick the physical strategy the numbers
  * call for:
  *
  *  - `broadcast` when the build side is provably small (one count);
  *  - `salted` ([[SaltedJoin]]) when the probe side's key distribution
  *    is skewed past the threshold — the case where a plain shuffle
  *    funnels the hot key through one task and AQE can't always split
  *    (forced shuffle-hash, downstream keyed aggregation);
  *  - `shuffle` otherwise (Catalyst's sort-merge / shuffle-hash).
  *
  * Every branch computes the IDENTICAL left equi-join; only the plan
  * differs, so callers (and the sj2 gate) can hash-compare the chosen
  * branch against the plain spelling. dq12 is the cardinality half of
  * this story (output-size estimation from the KMV sketch); this
  * operator is the input-shape half (build size + probe skew).
  *
  * Skew probe = Misra–Gries candidates + exact rescore (the hh1
  * composition): the MG pass ships ≤ k counters per partition — never a
  * per-key exchange — and guarantees every key with share > n/(k+1)
  * survives as a candidate; the rescore then counts ONLY the ≤ k
  * candidate keys exactly via an `isin` probe. Decision determinism:
  * with k = 64 the guarantee floor is ~1.5% share, far under the 10%
  * default threshold, so whenever a key is hot enough to trigger
  * salting it is guaranteed a candidate on EVERY partitioning, and its
  * rescored count — hence the decision — is a pure function of the
  * data. (Below the floor, candidate sets may vary with partition
  * order, but every candidate's true share is then under the threshold,
  * so the decision is stably `shuffle`.)
  *
  * The probes' results are three driver-side scalars — the measured-
  * gate posture the bloom/skew entries already use; at production scale
  * the same numbers come from table stats or a stats service instead.
  */
object SketchJoin {

  /** Exact count of the most frequent `key` value, via MG candidates +
    * exact rescore. 0 for an empty frame. Keys are probed through
    * xxhash64 so any key type fits in the Long-item MG sketch; a hash
    * collision could only merge two candidates' counts (overestimating
    * the top share), with 64-bit birthday odds.
    */
  def topKeyCount(df: DataFrame, key: Column, mgK: Int): Long = {
    val cands = df.select(udaf(new MisraGriesAgg(mgK)).apply(xxhash64(key)).as("c"))
      .collect()(0).getSeq[Long](0)
    if (cands.isEmpty) return 0L
    val top = df.filter(xxhash64(key).isin(cands: _*))
      .groupBy(xxhash64(key)).agg(count(lit(1)).as("c"))
      .agg(max(col("c"))).collect()(0)
    if (top.isNullAt(0)) 0L else top.getLong(0)
  }

  /** Plan and build the left equi-join of `left` ⟕ `right` on `key`.
    * Returns (strategy, frame); the strategy is one of
    * broadcast/salted/shuffle as documented above.
    *
    * @param dispersion        probe-side column whose hash spreads the
    *                          hot key's rows over salt buckets
    * @param broadcastRowLimit build side at or under this row count is
    *                          broadcast (a row-count stand-in for the
    *                          byte threshold a production planner uses)
    * @param skewShareMilli    probe-side top-key share (milli-units)
    *                          at or above which the join is salted
    */
  def planLeftJoin(left: DataFrame, right: DataFrame, key: String,
      dispersion: String, broadcastRowLimit: Long, skewShareMilli: Long,
      buckets: Int, mgK: Int = 64): (String, DataFrame) = {
    val buildRows = right.count()
    if (buildRows <= broadcastRowLimit)
      ("broadcast", left.join(broadcast(right), Seq(key), "left"))
    else {
      val probeRows = left.count()
      val topShareMilli =
        if (probeRows == 0) 0L
        else topKeyCount(left, col(key), mgK) * 1000L / probeRows
      if (topShareMilli >= skewShareMilli)
        ("salted", SaltedJoin.leftJoinSalted(left, right, key, dispersion, buckets))
      else ("shuffle", left.join(right, Seq(key), "left"))
    }
  }

  /** One dimension of a star join: `fact(factKey) = dim(dimKey)`. */
  case class JoinDim(name: String, dim: DataFrame, factKey: String, dimKey: String)

  /** Sketch-estimated JOIN ORDER — the System-R half of the decision
    * layer ([[planLeftJoin]] picks the physical strategy of ONE join;
    * this picks the ORDER of several): each dimension's estimated
    * intermediate size is the containment bound
    * |fact ⋈ dimᵢ| ≈ n_fact · n_dimᵢ / max(ndv_fact(kᵢ), ndv_dimᵢ(kᵢ))
    * — dq12's audited formula — with every NDV from the KMV sketch
    * ([[graft.functions.NdvSketch]]: ONE bounded-buffer pass per frame,
    * never a COUNT DISTINCT exchange; all fact-side key sketches ride a
    * single aggregate, so the fact scans once per probe round, not per
    * dim). Dimensions join ascending by estimate (name tie-break, so
    * the order is deterministic even on equal estimates): the most
    * selective dimension shrinks the intermediate first, every later
    * join probes fewer rows. INNER equi-joins commute, so every order
    * yields the identical row set — the sj3 gate hash-compares the
    * planned chain against the oracle's fixed-order restatement, and
    * SketchJoinSpec forces the reversed order and asserts frame
    * equality.
    *
    * Decision stability: the sketch is exact below k = 8192 and σ ≈
    * 1.1% above, so any pair of dims whose estimates differ by more
    * than a few σ orders identically under sketch and exact NDVs;
    * equal-estimate ties fall to the name. At production the same
    * numbers come from table stats; the formula and the ordering rule
    * are what this operator pins.
    */
  def planJoinChain(fact: DataFrame, dims: Seq[JoinDim]): (Seq[String], DataFrame) = {
    import graft.functions.NdvSketch
    require(dims.nonEmpty, "planJoinChain needs at least one dimension")
    // one fact pass: count + one KMV sketch per distinct fact key
    val factKeys = dims.map(_.factKey).distinct
    val factRow = fact.agg(count(lit(1)).as("n"),
        factKeys.map(k => NdvSketch.ndvSketch(col(k)).as(s"ndv_$k")): _*)
      .collect()(0)
    val nFact = factRow.getLong(0)
    val ndvFact = factKeys.zipWithIndex.map { case (k, i) => k -> factRow.getLong(i + 1) }.toMap
    val estimated = dims.map { d =>
      val r = d.dim.agg(count(lit(1)).as("n"),
        NdvSketch.ndvSketch(col(d.dimKey)).as("ndv")).collect()(0)
      val nDim = r.getLong(0)
      val est = nFact * nDim / math.max(1L, math.max(ndvFact(d.factKey), r.getLong(1)))
      (d, est)
    }
    val ordered = estimated.sortBy { case (d, est) => (est, d.name) }
    val joined = ordered.foldLeft(fact) { case (acc, (d, _)) =>
      acc.join(d.dim, acc(d.factKey) === d.dim(d.dimKey))
    }
    (ordered.map(_._1.name), joined)
  }
}
