package graft.operators

import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

/** pr_triangles' count is oracle-replayed; this pins exactness on graphs
  * whose triangle counts are hand-derivable, including the two shapes the
  * orientation argument is about: a K5 clique (C(5,3) = 10 triangles —
  * every wedge closes) and a star hub (0 triangles — and the hub's
  * ORIENTED out-degree is tiny even though its raw degree is the whole
  * graph, which is exactly why the wedge join doesn't square on hubs).
  */
class TriangleSpec extends SparkSuite with Matchers {
  import spark.implicits._

  private def profile(edges: Seq[(Long, Long)]) =
    Graph.triangleProfile(spark, edges.toDF("u", "v")).collect().head

  test("K5: 10 triangles; every wedge closes") {
    val k5 = for { u <- 0L until 5L; v <- (u + 1) until 5L } yield (u, v)
    val r = profile(k5)
    r.getLong(2) shouldBe 10L
    r.getLong(1) shouldBe 10L // C(5,2) edges
  }

  test("star hub: 0 triangles and the hub's out-degree collapses to ≤1") {
    val star = (1L to 50L).map(i => (0L, i))
    val r = profile(star)
    r.getLong(2) shouldBe 0L
    // raw hub degree = 50, but (deg, id) orientation points every spoke
    // (degree 1) INTO the hub, so max out-degree is 1 — the skew-immunity
    // the O(sqrt m) bound formalizes
    r.getLong(3) should be <= 1L
  }

  test("triangle valve: broadcast and shuffle branches count K5 = 10, pendant = 1") {
    // any acyclic orientation counts each triangle once; u < v is one.
    // Only counts are asserted: on inputs this small AQE may broadcast
    // either plan.
    def closures(edges: Seq[(Long, Long)], nEdges: Long): Long =
      Graph.triangleClosures(spark, edges.toDF("x", "y"), nEdges).count()
    val k5 = for { u <- 0L until 5L; v <- (u + 1) until 5L } yield (u, v)
    val pendant = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    for ((g, want) <- Seq(k5 -> 10L, pendant -> 1L)) {
      closures(g, g.size.toLong) shouldBe want // at or under the cap
      closures(g, Long.MaxValue) shouldBe want // above the cap
    }
  }

  test("triangle with a pendant: exactly 1, bound gate true") {
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val r = profile(g)
    r.getLong(2) shouldBe 1L
    r.getBoolean(4) shouldBe true
  }
}
