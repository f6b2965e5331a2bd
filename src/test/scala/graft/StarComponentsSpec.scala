package graft

import graft.operators.StarComponents
import org.apache.spark.sql.functions._

/** Large-star/small-star connected components: the O(log n) round
  * guarantee on the pathological input (a long chain — maximum
  * diameter per edge), exact agreement with driver-side union-find
  * ground truth on an adversarial random graph, and edge-case
  * contracts (empty graph, input normalization). */
class StarComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Pins the DISTRIBUTED star loop (smallGraphMax = 0 disables the
    * size-gated local path, which would otherwise absorb every
    * test-sized graph and leave the rounds algebra untested). */
  private def labelsOf(edges: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    val (df, rounds) = StarComponents.components(edges.toDF("a", "b"),
      smallGraphMax = 0L)
    (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  /** The production entry (gate at its default — test-sized graphs take
    * the local union-find path). */
  private def gatedLabelsOf(edges: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    val (df, rounds) = StarComponents.components(edges.toDF("a", "b"))
    (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  /** Driver-side union-find for ground truth (test-only; the operator
    * under test never sees it). */
  private def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(x => x -> find(x)).toMap
  }

  test("10k-vertex chain collapses to one min-rooted star in O(log n) rounds") {
    val n = 10000L
    val chain = (0L until n - 1).map(i => (i, i + 1))
    val (labels, rounds) = labelsOf(chain)
    assert(labels.size === n)
    assert(labels.values.forall(_ == 0L))
    // propagation without pointer jumping would need ~n rounds, with
    // jumping ~log2(diameter)=14; star must stay in the same class:
    // 2*ceil(log2 n) = 28 is the generous O(log n) ceiling
    assert(rounds <= 28, s"chain took $rounds rounds — not O(log n)")
  }

  test("chain with the minimum in the MIDDLE converges equally fast") {
    // ids descend then ascend: 5000..1,0,1..4999 relabeled uniquely —
    // vertex 0 sits mid-chain, so collapse must spread both ways
    val n = 10001L
    val ids = ((1L to 5000L).reverse :+ 0L) ++ (5001L to 10000L)
    val chain = ids.sliding(2).map(p => (p(0), p(1))).toSeq
    val (labels, rounds) = labelsOf(chain)
    assert(labels.size === n)
    assert(labels.values.forall(_ == 0L))
    assert(rounds <= 28, s"mid-min chain took $rounds rounds")
  }

  test("adversarial random graph matches union-find ground truth exactly") {
    // deterministic LCG: many small components of mixed shape plus one
    // large sparse one; ids sparse and shuffled so labels != indices
    var seed = 0x5DEECE66DL
    def nextLong(bound: Long): Long = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      math.floorMod(seed >>> 17, bound)
    }
    val edges = (1 to 3000).map { _ =>
      val a = nextLong(4000) * 7 + 3 // sparse, non-contiguous ids
      val b = nextLong(4000) * 7 + 3
      (a, b) // self-loops and duplicates land here on purpose
    }
    val expected = unionFind(4000L * 7 + 3, edges.filter(e => e._1 != e._2))
    val (labels, rounds) = labelsOf(edges)
    assert(labels === expected)
    assert(rounds <= 28, s"random graph took $rounds rounds")
  }

  test("property: labels == union-find on arbitrary random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // graph shapes scalecheck explores that the fixed cases don't:
    // dense multigraphs, heavy self-loop/duplicate noise, id collisions
    val edgeGen = for {
      a <- Gen.choose(0L, 60L)
      b <- Gen.choose(0L, 60L)
    } yield (a * 13 + 1, b * 13 + 1) // sparse non-contiguous ids
    val graphGen = Gen.choose(0, 120).flatMap(Gen.listOfN(_, edgeGen))
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10),
      Prop.forAllNoShrink(graphGen) { edges =>
        val (labels, _) = labelsOf(edges)
        labels == unionFind(61L * 13 + 1, edges.filter(e => e._1 != e._2))
      })
    assert(res.passed, res.status.toString)
  }

  test("size-gated local path == distributed star loop, bit-exactly") {
    // the gate swaps the ALGORITHM by edge count (guide §3's
    // broadcast-the-side-that-fits applied to the component graph);
    // both paths must land the identical (doc_id, label) set on the
    // adversarial random graph, self-loop/duplicate noise included
    var seed = 0xBADC0DEL
    def nextLong(bound: Long): Long = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      math.floorMod(seed >>> 17, bound)
    }
    val edges = (1 to 2500).map { _ =>
      (nextLong(3000) * 5 + 2, nextLong(3000) * 5 + 2)
    }
    val (viaLoop, _) = labelsOf(edges)
    val (viaLocal, localRounds) = gatedLabelsOf(edges)
    assert(localRounds === 0, "test-sized graph must take the local path")
    assert(viaLocal === viaLoop)
    // the boundary itself: a graph 1 over the gate runs the loop
    val (viaForcedLoop, r) = {
      val (df, rr) = StarComponents.components(edges.toDF("a", "b"),
        smallGraphMax = 1L)
      (df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap, rr)
    }
    assert(r > 0 && viaForcedLoop === viaLocal)
  }

  test("empty and trivial edge lists") {
    val (empty, r0) = labelsOf(Seq.empty)
    assert(empty.isEmpty && r0 === 0)
    // one edge, reversed orientation + duplicate + self-loop noise
    val (one, _) = labelsOf(Seq((7L, 3L), (3L, 7L), (7L, 7L)))
    assert(one === Map(3L -> 3L, 7L -> 3L))
  }

  test("d6 clusters equal driver-side union-find over the same near-dup pairs on the real corpus") {
    val pairs = graft.operators.DedupOps.minhashLshCore(spark, Sf)
      .filter($"is_near_dup" === 1).select($"a", $"b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val truth = unionFind(pairs.size.toLong, pairs)
    val d6 = graft.operators.DedupOps.dedupClusters(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // every document appears once; docs outside the pair graph are
    // their own singleton keeper
    assert(d6.map(_._1) === graft.sources.Tables.documents(spark, Sf)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted)
    val expected = d6.map { case (doc, _, _) =>
      val root = truth.getOrElse(doc, doc)
      (doc, root, if (root == doc) 1 else 0)
    }
    assert(d6 === expected)
    assert(d6.exists(t => t._1 != t._2), "the corpus must hold real clusters")
  }

  test("d13 incremental merge equals a full re-cluster on the real corpus") {
    val full = graft.operators.DedupOps.dedupClusters(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val inc = graft.operators.DedupOps.incrementalClusters(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(inc === full)
    assert(inc.nonEmpty)
  }

  test("CHAINED increments: 4 successive star-contraction merges equal full CC at every step") {
    // production runs the d13 merge DAILY: each day's assignment is the
    // contraction of the PREVIOUS MERGED assignment (itself already a
    // contraction), not of a fresh full cluster — so associativity of
    // star contraction under REPEATED contraction is what actually
    // carries the incremental pipeline. Replay a deterministic edge
    // stream in 5 batches and pin, after EVERY merge, exact equality
    // with a full re-cluster over the prefix.
    var seed = 0xC0FFEEL
    def nextLong(bound: Long): Long = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      math.floorMod(seed >>> 17, bound)
    }
    // a != b: components() drops pure-self-loop vertices, so allowing
    // them would turn the step-equality check into a statement about
    // that corner instead of about contraction chaining
    val stream = Iterator.continually {
      val a = nextLong(300) * 11 + 5
      val b = nextLong(300) * 11 + 5
      (a, b)
    }.filter(e => e._1 != e._2).take(400).toSeq
    val batches = stream.grouped(80).toSeq // bootstrap + 4 daily merges
    var assignment = StarComponents.components(batches.head.toDF("a", "b"))._1
    batches.zipWithIndex.drop(1).foreach { case (batch, day) =>
      val stars = assignment.filter($"doc_id" =!= $"label")
        .select($"doc_id".as("a"), $"label".as("b"))
      assignment = StarComponents.components(
        stars.unionByName(batch.toDF("a", "b")))._1
      val merged = assignment.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val direct = StarComponents.components(
          batches.take(day + 1).flatten.toDF("a", "b"))._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(merged === direct, s"drift after day-$day merge")
    }
    // the final assignment is non-trivial: real clusters formed
    val finalLabels = assignment.collect().map(_.getLong(1)).toSet
    assert(finalLabels.size > 1 && finalLabels.size < 300)
  }

  test("star contraction preserves components: merge(stars ∪ delta) == full CC") {
    // synthetic two-phase graph: old edges cluster {1..5}+{10,11};
    // delta edges attach {20,21} and BRIDGE the two old components
    val oldEdges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (10L, 11L), (3L, 4L))
    val delta = Seq((20L, 21L), (21L, 10L), (10L, 5L))
    import spark.implicits._
    val (labels0, _) = graft.operators.StarComponents.components(
      oldEdges.toDF("a", "b"))
    val stars = labels0.filter($"doc_id" =!= $"label")
      .select($"doc_id".as("a"), $"label".as("b"))
    val (merged, _) = graft.operators.StarComponents.components(
      stars.unionByName(delta.toDF("a", "b")))
    val (direct, _) = graft.operators.StarComponents.components(
      (oldEdges ++ delta).toDF("a", "b"))
    val m = merged.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d = direct.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === d)
    // the bridge really merged everything into min-vertex 1
    assert(d.values.toSet === Set(1L))
  }
}
