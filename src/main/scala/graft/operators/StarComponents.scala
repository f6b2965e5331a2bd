package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components by alternating LARGE-STAR / SMALL-STAR rounds
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC '14) — the published alternative to plain min-label
  * propagation for PATHOLOGICAL component shapes. Label propagation
  * (even pointer-jumped) pays rounds proportional to log(diameter)
  * with a working set that stays the full vertex set; the star
  * algorithm instead rewrites the EDGE set each round so that
  * components collapse toward their minimum vertex from every
  * direction at once, converging in O(log n) rounds on
  * chains — the worst case for propagation — while each round stays
  * two shuffle-shapes (a window-min per star half, keyed on vertex
  * id — see the in-loop note for why window-min beats the equivalent
  * groupBy-min + equi-join here). Near-dup graphs at 100 TB are exactly this hazard:
  * transitive chains of pairwise-similar docs, not cliques.
  *
  * Round shape, both halves:
  *   - large-star(u): every neighbor v > u re-attaches to
  *     m(u) = min(N(u) ∪ u) — applied from the smaller endpoint of
  *     each edge, so the emission is one equi-join of the oriented
  *     edge list against the per-vertex min table.
  *   - small-star(u): every neighbor v ≤ u (and u itself) re-attaches
  *     to m = min of u's smaller neighbors.
  * Both emissions keep every edge pointing big→small, so the edge set
  * stays oriented and self-loop-free by construction; `distinct`
  * bounds it at the input edge count. No vertex state, no driver-side
  * row data — the only driver values are the per-round edge count and
  * a changed-flag, and `localCheckpoint` truncates the lineage each
  * round.
  *
  * Convergence: the edge set is a fixpoint of both halves iff it is a
  * disjoint union of min-rooted stars (the paper's invariant), so the
  * loop stops when a full round leaves the edge set unchanged
  * (count + anti-join emptiness — an exact set compare, not a
  * checksum). A final star-shape sanity check turns any subtle
  * non-fixpoint into a loud error instead of wrong labels.
  */
object StarComponents {

  /** Round cap — alternating star converges in O(log n) rounds (≈14
    * measured on a 10k-vertex chain, see StarComponentsSpec); the cap
    * turns a data bug into a loud failure instead of a hang. */
  val MaxRounds = 50

  /** Size gate for the LOCAL small-graph path: a normalized edge set
    * at or under this count (64Ki pairs ≈ 1 MB of longs — squarely in
    * the broadcast-size class) is collected once and solved with
    * driver-side union-find in ZERO additional jobs, instead of
    * O(log n) alternating rounds of 3 exchanges each. This is guide
    * §3's "broadcast the side that fits" applied to the component
    * graph: the update/forget verbs hand this loop CLUSTER-BOUNDED
    * subgraphs (batch-sized by design — d29/d30's contract), and
    * paying 10+ scheduled rounds of pure fixed cost to relabel a few
    * thousand edges dominated their wall. At 100 TB a full-corpus
    * build's edge set exceeds the gate and runs the distributed
    * rounds unchanged — the switch is by measured size, exactly like
    * a broadcast-join threshold, never by deployment. Both paths
    * compute the identical min-label assignment (StarComponentsSpec
    * pins bit-equality on adversarial graphs and at the gate
    * boundary; the spec's union-find ground truth IS this path's
    * algorithm). */
  val SmallGraphEdges = 65536L

  /** Connected components over an undirected edge list.
    *
    * @param edges two Long columns (a, b); orientation, duplicates and
    *              self-loops are all tolerated (normalized up front).
    * @param smallGraphMax edge-count gate for the local union-find
    *              path ([[SmallGraphEdges]]; 0 pins the distributed
    *              loop — the spec's convergence tests use it).
    * @return (labels, rounds): one (doc_id, label) row per vertex that
    *         appears in a non-degenerate (a ≠ b) edge — a vertex with
    *         only self-loops is a singleton and is the caller's to
    *         rejoin, like any other absent vertex; label = minimum
    *         vertex id of its component; rounds = alternating rounds
    *         until fixpoint (0 when the local path answered).
    */
  def components(edges: DataFrame,
      smallGraphMax: Long = SmallGraphEdges): (DataFrame, Int) = {
    val cols = edges.columns
    // normalize: orient big→small, drop self-loops and duplicates
    var o = edges
      .select(greatest(col(cols(0)), col(cols(1))).as("u"),
        least(col(cols(0)), col(cols(1))).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var cnt = o.count()
    if (cnt > 0L && cnt <= smallGraphMax)
      return (localComponents(o), 0)
    var rounds = 0
    var converged = cnt == 0L
    while (!converged && rounds < MaxRounds) {
      // Each half-round is ONE window-min over its join key instead of
      // the equivalent groupBy-min + equi-join: the min table is tiny,
      // so the planner turned each join into a BroadcastHashJoin whose
      // BroadcastExchange is its own scheduled job under AQE — two
      // broadcast builds plus an extra exchange per round of pure
      // fixed cost (measured: the d29/d30 loop spent >half its wall in
      // those builds). The window shuffles the SAME key the join did
      // (skew exposure unchanged — a hot vertex's neighborhood landed
      // on one join partition before and lands on one window partition
      // now, and WindowExec spills via its external row buffer), and
      // the per-round plan drops from 4 exchanges + 2 broadcasts to 3
      // exchanges + 0. Emission algebra is IDENTICAL to the join form
      // (StarComponentsSpec's union-find ground truth pins it).
      // large-star: m(x) = min over the FULL neighborhood ∪ {x}; each
      // edge's emission comes from its SMALLER endpoint x = v of the
      // oriented edge (y, x): (y, m(x)) with m(x) <= x < y — oriented,
      // never a self-loop. Duplicate emissions survive to the end-of-
      // round distinct (min is duplicate-insensitive in between).
      val adj = o.select(col("u").as("x"), col("v").as("y"))
        .unionByName(o.select(col("v").as("x"), col("u").as("y")))
      val wX = Window.partitionBy(col("x"))
      val large = adj
        .withColumn("m", least(min(col("y")).over(wX), col("x")))
        .filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
      // small-star: m2(u) = min of u's (all smaller) neighbors; every
      // leaf re-attaches as (v, m2) — the min itself would self-loop,
      // the filter drops it — and the center re-emits as (u, m2),
      // never a self-loop (m2 < u strictly: every v < u).
      val wU = Window.partitionBy(col("u"))
      val next = large
        .withColumn("m2", min(col("v")).over(wU))
        .select(explode(array(
          struct(col("v").as("u"), col("m2").as("v")),
          struct(col("u"), col("m2").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(false) // lazy: the count below materializes it
      val nextCnt = next.count()
      // exact set equality: same cardinality and next ⊆ o
      converged = nextCnt == cnt &&
        next.join(o, Seq("u", "v"), "left_anti").isEmpty
      o = next
      cnt = nextCnt
      rounds += 1
    }
    require(converged, s"star rounds did not converge in $MaxRounds rounds")
    // fixpoint sanity: a star forest has disjoint centers and leaves
    require(o.select(col("v"))
      .join(o.select(col("u").as("v")), Seq("v"), "left_semi").isEmpty,
      "converged edge set is not a star forest")
    val leafLabels = o.groupBy(col("u")).agg(min(col("v")).as("label"))
      .withColumnRenamed("u", "doc_id")
    val roots = o.select(col("v").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    (leafLabels.unionByName(roots), rounds)
  }

  /** The gate's local path: min-label union-find over a collected
    * (already normalized, ≤ [[SmallGraphEdges]]-row) edge set. The
    * max root always attaches under the min root, so a component's
    * final root IS its minimum vertex id — the exact label the star
    * fixpoint emits. LinkedHashMap keeps the output row order a
    * deterministic function of the input order (no promise downstream,
    * but determinism is free here). Returns the same (doc_id, label)
    * surface as the loop, as a driver-local relation — broadcast-class
    * by the gate's bound. */
  private def localComponents(o: DataFrame): DataFrame = {
    val spark = o.sparkSession
    val edges = o.collect()
    val parent = new java.util.LinkedHashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    var i = 0
    while (i < edges.length) {
      val u = edges(i).getLong(0)
      val v = edges(i).getLong(1)
      if (!parent.containsKey(u)) parent.put(u, u)
      if (!parent.containsKey(v)) parent.put(v, v)
      val ru = find(u)
      val rv = find(v)
      if (ru < rv) parent.put(rv, ru)
      else if (rv < ru) parent.put(ru, rv)
      i += 1
    }
    val out = new Array[(Long, Long)](parent.size())
    val it = parent.keySet().iterator()
    var w = 0
    while (it.hasNext) {
      val x = it.next()
      out(w) = (x, find(x))
      w += 1
    }
    import spark.implicits._
    spark.createDataset(out.toIndexedSeq).toDF("doc_id", "label")
  }
}
