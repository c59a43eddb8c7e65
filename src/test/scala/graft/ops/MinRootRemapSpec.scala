package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The driver-side union-find [[DedupOps.ccAssign]] finishes small pair
  * sets with, as a pure function: no Spark.
  */
class MinRootRemapSpec extends AnyFunSuite {

  private def remap(edges: (Long, Long)*): Seq[(Long, Long)] =
    DedupOps.minRootRemap(edges.toArray)

  test("minRootRemap: every non-minimum endpoint maps to its component minimum") {
    // a chain, in both edge orders
    assert(remap(1L -> 2L, 2L -> 3L, 3L -> 4L).toMap === Map(2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(remap(4L -> 3L, 3L -> 2L, 2L -> 1L).toMap === Map(2L -> 1L, 3L -> 1L, 4L -> 1L))
    // two components stay apart
    assert(remap(10L -> 11L, 21L -> 22L, 20L -> 21L).toMap ===
      Map(11L -> 10L, 21L -> 20L, 22L -> 20L))
    // duplicate and reversed edges: one entry per node
    assert(remap(5L -> 6L, 6L -> 5L, 5L -> 6L) === Seq(6L -> 5L))
    // no edges, or only self-loops: nothing to remap
    assert(remap() === Nil)
    assert(remap(7L -> 7L) === Nil)
  }

  test("minRootRemap: no pair maps a node to itself and each node appears once") {
    val rnd = new scala.util.Random(11)
    val edges = Array.fill(400)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
    val out = DedupOps.minRootRemap(edges)
    assert(out.forall { case (x, r) => x != r && r < x })
    assert(out.map(_._1).distinct.size === out.size)
    // every target is a root: it never appears as a source
    assert(out.map(_._2).toSet.intersect(out.map(_._1).toSet).isEmpty)
  }
}
