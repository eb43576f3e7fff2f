package graft

import graft.core.{Cells, GeoOps}
import graft.operators.SpatialJoins

/** Cell-keyed joins whose two sides cover at different levels: a large
  * geometry's covering is coarser than the join level, a small one's is at
  * it. Keys must be normalised (coarser cells expanded to descendants), not
  * taken as ancestors, or the pair shares no key and silently goes missing. */
class MixedLevelJoinSpec extends SparkSuite {

  test("intersectionJoin finds a small box inside a polygon covered coarser than the join level") {
    import spark.implicits._
    val big = GeoOps.fromWkt("POLYGON ((-1 51, 0 51, 0 52, -1 52, -1 51))")
    val box = GeoOps.fromWkt(
      "POLYGON ((-0.5 51.5, -0.496 51.5, -0.496 51.504, -0.5 51.504, -0.5 51.5))")
    // the repro's precondition: the sides cover at different levels
    assert(GeoOps.covering(big, 12, 64).map(Cells.level).max < 12)
    assert(GeoOps.covering(box, 12, 64).forall(Cells.level(_) == 12))
    val a = Seq((1L, GeoOps.toWkb(big))).toDF("a_id", "ga")
    val b = Seq((2L, GeoOps.toWkb(box))).toDF("b_id", "gb")
    val got = SpatialJoins.intersectionJoin(a, b, "ga", "gb", level = 12)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L)))
  }
}
