package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The raster geometry every grid query goes through: cell packing,
  * the in-grid filter, the D8 code table and the chamfer weights. */
class GridSpec extends SparkSpec {

  test("pack(row(x), col(x)) == x over the whole cell domain") {
    val xs = spark.range(0, Grid.Cells).toDF("x")
    val bad = xs.filter(
      Grid.pack(Grid.row(col("x")), Grid.col(col("x"))) =!= col("x"))
    assert(bad.count() == 0L)
    // (x, r, c) at the four corners
    val corners = Seq((0L, 0L, 0L), (99L, 0L, 99L), (9900L, 99L, 0L),
      (9999L, 99L, 99L))
    val got = spark.createDataFrame(corners.map(c => Tuple1(c._1))).toDF("x")
      .select(col("x") +: Grid.rc(col("x")): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == corners.toSet)
    assert(corners.forall { case (x, r, c) => Grid.pack(r, c) == x })
  }

  test("cellOf lands every key on the domain") {
    val got = spark.range(0, 30000, 7).select(Grid.cellOf(col("id")).as("x"))
      .agg(min("x"), max("x")).head()
    assert(got.getLong(0) >= 0L && got.getLong(1) < Grid.Cells)
  }

  test("each D8 code decodes to the step d8Offs encodes for it") {
    assert(Grid.d8Offs.map(_._3).sorted ==
      Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L))
    val (dr, dc) = Grid.d8Step(col("d8"))
    val got = spark.createDataFrame(Grid.d8Offs.map(o => Tuple1(o._3)))
      .toDF("d8").select(col("d8"), dr.cast("long"), dc.cast("long"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // the code names the neighbor at (−dr, −dc) of the fan-out offset
    for ((odr, odc, code, _) <- Grid.d8Offs)
      assert(got(code) == ((-odr, -odc)), s"code $code")
    // Esri's compass: E=1, S=4, W=16, N=64
    assert(got(1L) == ((0L, 1L)) && got(4L) == ((1L, 0L)) &&
      got(16L) == ((0L, -1L)) && got(64L) == ((-1L, 0L)))
  }

  test("inGrid rejects -1 and 100 on both axes") {
    val rows = Seq((0L, 0L), (99L, 99L), (-1L, 5L), (100L, 5L), (5L, -1L),
      (5L, 100L))
    val kept = spark.createDataFrame(rows).toDF("r", "c")
      .filter(Grid.inGrid).collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(kept == Set((0L, 0L), (99L, 99L)))
  }

  test("chamfer offsets weigh self 0, cardinal 3 and diagonal 4") {
    assert(Grid.chamferOffs.size == 9)
    for ((dr, dc, w) <- Grid.chamferOffs) {
      val expected =
        if (dr == 0L && dc == 0L) 0L
        else if (dr == 0L || dc == 0L) 3L
        else 4L
      assert(w == expected, s"($dr, $dc)")
    }
    val d8w = spark.createDataFrame(Grid.d8Offs.map(o => Tuple1(o._3)))
      .toDF("d8").select(col("d8"), Grid.d8Chamfer(col("d8")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((code, dr, dc) <- Grid.d8Steps)
      assert(d8w(code) == Grid.chamfer(dr, dc), s"code $code")
  }
}
