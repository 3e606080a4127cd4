package perfbench

import java.io.File
import java.nio.ByteOrder
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption

import scala.collection.mutable

import graft.catalog.{Catalog, SnapshotTable}
import graft.classify.Classify
import graft.overlay.WeightedOverlay
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's service path. Set-up authors a mosaic catalog over a seeded
  * raster stack; each timed operation is one request from the generated
  * request stream: mostly overlay reads of an extent with their own
  * weights (some with NoData masking), and a minority of classification
  * edits committed as new catalog versions.
  *
  * Every read is checked against a plain-Scala remap and weighted sum over
  * the raw raster values, the catalog version the benchmark expects, and
  * the request's weights; `score10` must match exactly. */
final class OverlayService(dataDir: String, workDir: File) extends Workload {
  import OverlayService._

  private val (layers, grid, noDataLayer, blockSize) = {
    val src = scala.io.Source.fromFile(s"$dataDir/requests.txt")
    val header = try src.getLines().next().split(" ") finally src.close()
    def after(key: String) = header(header.indexOf(key) + 1)
    val at = header.indexOf("grid")
    (header.slice(header.indexOf("layers") + 1, at).toSeq, after("grid").toInt,
      after("nodata"), after("block").toInt)
  }
  private val rasterPath = s"$dataDir/raster.parquet"
  /** Raw values, layer-major then row-major: the check's own input. */
  private val raster: Array[Double] = {
    val ch = FileChannel.open(new File(s"$dataDir/raster.f64").toPath,
      StandardOpenOption.READ)
    try {
      val buf = ch.map(FileChannel.MapMode.READ_ONLY, 0, ch.size())
        .order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer()
      val a = new Array[Double](buf.remaining()); buf.get(a); a
    } finally ch.close()
  }
  require(raster.length == layers.size * grid * grid, "raster size mismatch")
  private val cellsPerLayer = grid * grid
  private def layerValues(li: Int): Iterator[Double] =
    Iterator.range(li * cellsPerLayer, (li + 1) * cellsPerLayer).map(raster(_))
  private val mins = layers.indices.map(layerValues(_).min)
  private val maxs = layers.indices.map(layerValues(_).max)

  private val requests: IndexedSeq[Request] = {
    val src = scala.io.Source.fromFile(s"$dataDir/requests.txt")
    try src.getLines().drop(1).map(parse).toIndexedSeq finally src.close()
  }
  private var cursor = 0

  private var spark: SparkSession = _
  private var root: String = _
  /** The catalog the benchmark expects: layer -> (lo, hi, out) ranges. */
  private var model: Map[String, IndexedSeq[Range3]] = Map.empty
  private val setupFailures = mutable.ArrayBuffer[String]()
  private var authorS = 0.0

  def prepare(s: SparkSession): Unit = {
    spark = s
    root = new File(workDir, "catalog").getPath
    val t0 = System.nanoTime()
    author()
    authorS = (System.nanoTime() - t0) / 1e9
    model = readModel()
    checkAuthored()
  }

  /** Per-layer statistics, then a classification per layer kind: equal
    * interval, quantile breaks, or unique values; encode and commit v1. */
  private def author(): Unit = {
    val cells = spark.read.parquet(rasterPath)
    val stats = cells.groupBy("layer").agg(min("value").as("mn"),
      max("value").as("mx"),
      percentile_approx(col("value"), array(Seq(0.2, 0.4, 0.6, 0.8).map(lit): _*),
        lit(10000)).as("q"))
    val (equal, breaks) = (Seq("elevation", "distance"), Seq("slope"))
    val byEqual = stats.filter(col("layer").isin(equal: _*))
      .select(col("layer"), Classify.equalInterval(col("mn"), col("mx")).as("ranges"))
    val byBreaks = stats.filter(col("layer").isin(breaks: _*))
      .select(col("layer"),
        Classify.fromBreaks(col("mn"), concat(col("q"), array(col("mx")))).as("ranges"))
    val byValue = cells.filter(!col("layer").isin(equal ++ breaks: _*))
      .groupBy("layer").agg(collect_set("value").as("vals"))
      .select(col("layer"), Classify.uniqueValues(col("vals")).as("ranges"))
    val decoded = byEqual.unionByName(byBreaks).unionByName(byValue)
    SnapshotTable.commit(Catalog.encode(decoded).withColumn("snapped", lit(0)),
      root, 0L)
  }

  /** The stored catalog, parsed here (not through Catalog.decode). */
  private def readModel(): Map[String, IndexedSeq[Range3]] =
    SnapshotTable.readLatest(spark, root)
      .select("name", "input_ranges", "output_values").collect().map { r =>
        val b = r.getString(1).split(",").map(_.toDouble)
        val o = r.getString(2).split(",").map(_.toInt)
        r.getString(0) -> b.grouped(2).zip(o).map { case (p, out) =>
          Range3(p(0), p(1), out) }.toIndexedSeq
      }.toMap

  /** Authoring checks that need no Spark: equal-interval layers match the
    * linspace rule, unique-value layers the distinct raw values, and every
    * layer's ranges are contiguous from the minimum past the maximum. */
  private def checkAuthored(): Unit = {
    def fail(msg: String): Unit = setupFailures += msg
    if (model.keySet != layers.toSet) fail(s"catalog layers ${model.keySet}")
    for ((name, li) <- layers.zipWithIndex; rs <- model.get(name)) {
      val (mn, mx) = (mins(li), maxs(li))
      if (rs.head.lo != mn || rs.last.hi != mx + 1.0 ||
          rs.sliding(2).exists(p => p.size == 2 && p(0).hi != p(1).lo))
        fail(s"$name ranges not contiguous over [$mn, $mx]")
      name match {
        case "elevation" | "distance" =>
          val step = (mx - mn) / 5.0
          val want = (0 until 5).map(i => Range3(mn + i * step,
            if (i == 4) mx + 1.0 else mn + (i + 1) * step, Classify.defaultOutputValues(i)))
          if (rs != want) fail(s"$name equal-interval ranges $rs")
        case n if n == noDataLayer =>
          val vals = layerValues(li).toSeq.distinct.sorted
          if (rs.map(_.lo) != vals) fail(s"$name unique values ${rs.map(_.lo)}")
        case _ =>
      }
    }
  }

  def failures: Seq[String] = setupFailures.toSeq

  /** The next block of the stream: every block holds the same request mix. */
  def nextBlock(): Seq[Op] = {
    val b = requests.slice(cursor, cursor + blockSize)
    require(b.size == blockSize, "request stream exhausted")
    cursor += blockSize
    b.map {
      case r: Read => Op(if (r.mask) "read_masked" else "read", ctx => read(r, ctx))
      case e: Edit => Op("edit", ctx => edit(e, ctx))
    }
  }

  private def read(r: Read, ctx: OpContext): () => Boolean = {
    val session = spark
    import session.implicits._
    val expected = model
    val result = ctx.span("ops.build") {
      val catalog = ctx.span("catalog.read") {
        Catalog.decode(SnapshotTable.readLatest(spark, root))
      }
      val cells = spark.read.parquet(rasterPath)
        .filter(col("r").between(r.r0, r.r1) && col("c").between(r.c0, r.c1))
        .select("cell_id", "layer", "value")
      val masked = if (!r.mask) cells else WeightedOverlay.maskNoData(cells,
        Seq((noDataLayer, 0.0, 1.0)).toDF("layer", "lo", "hi").groupBy("layer")
          .agg(collect_list(struct(col("lo"), col("hi"))).as("nd")))
      val weights = layers.zip(r.w10).toDF("layer", "w10")
      WeightedOverlay.score(WeightedOverlay.remap(masked,
        WeightedOverlay.explodeRanges(catalog, layerCol = "name")), weights)
    }
    val rows = ctx.span("ops.action")(ctx.span("overlay.exec")(result.collect()))
    if (ctx.tracing)
      ctx.add("scan.values_in_extent", r.cells.toDouble * layers.size)
    () => {
      val got = rows.map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
      got.size == rows.length && got == reference(r, expected)
    }
  }

  /** Remap and weighted sum over the raw values, in plain Scala. */
  private def reference(r: Read, cat: Map[String, IndexedSeq[Range3]])
      : Map[Long, (Long, Long)] = {
    val out = mutable.Map[Long, (Long, Long)]()
    for (row <- r.r0 to r.r1; c <- r.c0 to r.c1) {
      var score = 0L
      var n = 0L
      for ((name, li) <- layers.zipWithIndex) {
        val v = raster(li * cellsPerLayer + row * grid + c)
        val masked = r.mask && name == noDataLayer && v >= 0.0 && v < 1.0
        if (!masked) cat(name).find(x => v >= x.lo && v < x.hi).foreach { x =>
          score += x.out.toLong * r.w10(li); n += 1
        }
      }
      if (n > 0) out(row.toLong * grid + c) = (score, n)
    }
    out.toMap
  }

  private def edit(e: Edit, ctx: OpContext): () => Boolean = {
    val session = spark
    import session.implicits._
    val li = layers.indexOf(e.layer)
    val (base, updated) = ctx.span("ops.build") {
      val base = SnapshotTable.currentVersion(spark, root)
      val current = ctx.span("catalog.read")(SnapshotTable.readLatest(spark, root))
      val ranges: Column = array(e.ranges.zipWithIndex.map { case (x, i) =>
        struct(lit(s"class ${i + 1}").as("label"), lit(x.lo).as("lo"),
          lit(x.hi).as("hi"), lit(x.out).as("out"))
      }: _*)
      val stats = Seq((mins(li), maxs(li))).toDF("mn", "mx")
      (base, Catalog.updateClassification(current, e.layer, ranges, stats))
    }
    val before = if (ctx.tracing) Some(storage(root)) else None
    val v = ctx.span("ops.action")(ctx.span("catalog.commit") {
      SnapshotTable.commit(updated, root, base)
    })
    model = model.updated(e.layer, e.ranges)
    before.foreach { case (bytes, files) =>
      val (b2, f2) = storage(root)
      ctx.add("catalog.bytes_written", (b2 - bytes).toDouble)
      ctx.add("catalog.files_written", (f2 - files).toDouble)
    }
    () => v == base + 1
  }

  def finish(s: SparkSession): Map[String, Double] = {
    // the live encoded catalog: the user's bytes, as stored strings
    val live = SnapshotTable.readLatest(s, root)
      .select("name", "input_ranges", "range_labels", "output_values").collect()
      .map(r => (0 until 4).map(i => Option(r.getString(i)).map(_.getBytes("UTF-8").length)
        .getOrElse(0)).sum).sum
    Map(
      "bytes_stored_per_user_byte" -> storage(root)._1.toDouble / live,
      "catalog.versions" -> SnapshotTable.currentVersion(s, root).toDouble,
      "classify.author_s" -> authorS)
  }
}

object OverlayService {
  final case class Range3(lo: Double, hi: Double, out: Int)

  sealed trait Request
  final case class Read(r0: Int, r1: Int, c0: Int, c1: Int, mask: Boolean,
                        w10: Seq[Int]) extends Request {
    def cells: Long = (r1 - r0 + 1).toLong * (c1 - c0 + 1)
  }
  final case class Edit(layer: String, ranges: IndexedSeq[Range3]) extends Request

  def parse(line: String): Request = line.split(" ").toList match {
    case "R" :: r0 :: r1 :: c0 :: c1 :: m :: ws =>
      Read(r0.toInt, r1.toInt, c0.toInt, c1.toInt, m == "1", ws.map(_.toInt))
    case "E" :: layer :: k :: rest =>
      Edit(layer, rest.grouped(3).map { case Seq(lo, hi, o) =>
        Range3(lo.toDouble, hi.toDouble, o.toInt) }.toIndexedSeq.ensuring(_.size == k.toInt))
    case _ => sys.error(s"bad request line: $line")
  }

  /** Bytes and files under a directory tree. */
  def storage(dir: String): (Long, Long) = {
    def walk(f: File): (Long, Long) =
      if (f.isFile) (f.length(), 1L)
      else Option(f.listFiles()).toSeq.flatten.map(walk)
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    walk(new File(dir))
  }
}
