package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import scala.reflect.runtime.universe.TypeTag

/** The pseudo-raster's geometry, defined once for every raster query.
  *
  * A fact row's key lands on cell `key % 10⁴`; cells 0..9999 unfold to a
  * 100×100 raster (row = cell div 100, col = cell % 100) and encode back
  * as r·100 + c. The grid is SPARSE — a (row, col) with no fact rows is
  * NoData, and the raster-algebra queries treat absence as NoData the
  * way the service kernel does (pyt:597 NoData semantics): focal/zonal
  * statistics aggregate over present cells only.
  *
  * Neighbourhood operators work on frames with `r`/`c` columns: they fan
  * each cell out over an offset table ([[window]], [[chamferOffs]],
  * [[d8Offs]]) with [[fanOut]] and clip the targets with [[inGrid]].
  * The width is a constant, not an option: every oracle replays the same
  * 100-wide arithmetic. A tiled layout (partition by tile, 1-cell halo)
  * is ROADMAP item 4's later step and is not built. */
object Grid {

  /** Grid width and height, in cells. */
  val W = 100L

  /** Size of the cell domain 0 until Cells. */
  val Cells: Long = W * W

  /** The cell a fact row's key lands on. */
  def cellOf(key: Column): Column = key % Cells

  /** Integer division (SQL `div`, truncating). */
  def div(x: Column, n: Long): Column = F.call_function("div", x, F.lit(n))

  def row(cell: Column): Column = div(cell, W)

  def col(cell: Column): Column = cell % W

  def pack(r: Column, c: Column): Column = r * W + c

  def pack(r: Long, c: Long): Long = r * W + c

  /** The (r, c) projection of a packed cell column. */
  def rc(cell: Column): Seq[Column] =
    Seq(row(cell).as("r"), col(cell).as("c"))

  /** Keeps rows whose (r, c) lies on the grid. */
  def inGrid: Column =
    F.col("r").between(0, W - 1) && F.col("c").between(0, W - 1)

  /** The (dr, dc) offsets of the (2·radius+1)² window, row-major, self
    * included. */
  def window(radius: Long): Seq[(Long, Long)] =
    for { dr <- -radius to radius; dc <- -radius to radius } yield (dr, dc)

  /** The 3×3 neighbourhood, self at the centre. */
  val offs3x3: Seq[(Long, Long)] = window(1L)

  /** Borgefors' chamfer 3-4 step weight (the integer approximation of
    * Euclidean distance, max error ~8%): self 0, cardinal 3, diagonal
    * 4. */
  def chamfer(dr: Long, dc: Long): Long =
    if (dr == 0L && dc == 0L) 0L else if (dr == 0L || dc == 0L) 3L else 4L

  /** The 3×3 offsets with their chamfer weights, (dr, dc, w). */
  val chamferOffs: Seq[(Long, Long, Long)] =
    offs3x3.map { case (dr, dc) => (dr, dc, chamfer(dr, dc)) }

  /** The D8 code table, (dr, dc, code, w) per neighbour: (dr, dc) =
    * target − source, and code/weight are the TARGET's view of the
    * source (its neighbour at (−dr, −dc)) — Esri's power-of-two compass
    * codes (E=1 SE=2 S=4 SW=8 W=16 NW=32 N=64 NE=128) and the steepness
    * weight 7 cardinal / 5 diagonal (√2 ≈ 7/5). Shared with the oracle's
    * generated VALUES. */
  val d8Offs: Seq[(Long, Long, Long, Long)] =
    offs3x3.filter(_ != ((0L, 0L))).map { case (dr, dc) =>
      val (nr, nc) = (-dr, -dc)
      val code = (nr, nc) match {
        case (0L, 1L) => 1L; case (1L, 1L) => 2L; case (1L, 0L) => 4L
        case (1L, -1L) => 8L; case (0L, -1L) => 16L; case (-1L, -1L) => 32L
        case (-1L, 0L) => 64L; case (-1L, 1L) => 128L
        case _ => sys.error("unreachable")
      }
      (dr, dc, code, if (nr == 0L || nc == 0L) 7L else 5L)
    }

  /** (code, dr, dc): the step a D8 code points along, decoded from
    * [[d8Offs]] (the code names the neighbour at (−dr, −dc)), in code
    * order. */
  val d8Steps: Seq[(Long, Long, Long)] =
    d8Offs.map { case (dr, dc, code, _) => (code, -dr, -dc) }.sortBy(_._1)

  /** The (dr, dc) step of a D8 code column, as two CASE expressions. */
  def d8Step(code: Column): (Column, Column) = {
    def decode(part: ((Long, Long, Long)) => Long): Column = {
      val init :+ last = d8Steps
      val first = F.when(code === init.head._1, part(init.head).toInt)
      init.tail.foldLeft(first)((cw, s) => cw.when(code === s._1, part(s).toInt))
        .otherwise(part(last).toInt)
    }
    (decode(_._2), decode(_._3))
  }

  /** The chamfer weight of a D8 code column's step. */
  def d8Chamfer(code: Column): Column = {
    val cardinal = d8Steps.collect {
      case (c, dr, dc) if chamfer(dr, dc) == 3L => c }
    F.when(code.isin(cardinal: _*), 3).otherwise(4)
  }

  /** Fans each (r, c) row out to the targets at `offs`, tuples whose
    * first two fields are (dr, dc): keeps `carry` beside the tuple `o`,
    * then emits the shifted (r, c) followed by `out`. Targets are not
    * clipped; filter with [[inGrid]]. */
  def fanOut[T: TypeTag](df: DataFrame, offs: Seq[T], carry: Column*)(
      out: Column*): DataFrame =
    df.select(Seq(F.col("r"), F.col("c")) ++ carry
        :+ F.explode(F.typedLit(offs)).as("o"): _*)
      .select(Seq((F.col("r") + F.col("o._1")).as("r"),
        (F.col("c") + F.col("o._2")).as("c")) ++ out: _*)
}
