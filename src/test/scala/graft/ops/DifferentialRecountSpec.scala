package graft.ops

import graft.SparkSpec
import graft.llm.TextAnalysis
import org.apache.spark.sql.functions._

/** Differential recounts: each query is checked against an INDEPENDENT
  * second computation — Spark's native interpolated percentile for a27,
  * driver-side brute-force recounts for o10, twi, d41 and the
  * least-cost path, a brute-force md5 recount for d39. */
class DifferentialRecountSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("a27: quarter-unit decomposition equals Spark's native " +
       "interpolated percentile x4") {
    val got = RelQueries.a27PercentileCont(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // native percentile: interpolation fractions are quarters, so the
    // double result ×4 is exactly integral
    val exp = graft.table(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        (percentile(col("l_quantity"), lit(0.25)) * 4).cast("long").as("a"),
        (percentile(col("l_quantity"), lit(0.5)) * 4).cast("long").as("b"),
        (percentile(col("l_quantity"), lit(0.75)) * 4).cast("long").as("c"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == exp && got.size == 3)
  }

  test("o10: front equals brute-force NOT-EXISTS dominance over all " +
       "distinct pairs") {
    val pairs = graft.table(spark, dir, "lineitem")
      .select(col("l_quantity").cast("long").as("u"),
        round(col("l_extendedprice") * 100).cast("long").as("c"))
      .groupBy("u", "c").count().collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // definitional skyline over ALL distinct pairs, not the per-u maxima
    val front = pairs.keySet.filter { case (u, c) =>
      !pairs.keySet.exists { case (u2, c2) =>
        u2 >= u && c2 >= c && (u2 > u || c2 > c) }
    }
    val got = RelQueries.o10Skyline(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got.keySet == front && front.nonEmpty)
    assert(got.forall { case (k, n) => pairs(k) == n })
    // front is a strict antichain: sorted by u desc, cents strictly rises
    val sorted = got.keySet.toSeq.sortBy(-_._1)
    assert(sorted.zip(sorted.tail).forall { case (a, b) => b._2 > a._2 })
  }

  test("twi: wetness class recomputed from the exact (a, g2) pair; " +
       "flat ground is maximally wet") {
    val rows = WroQueries.twi(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getInt(4))))
    assert(rows.nonEmpty)
    rows.foreach { case (_, (a, g2, wet)) =>
      assert(a >= 1 && g2 >= 0)
      val exp = Seq(10000L, 100000L, 1000000L)
        .count(t => a * a * 1000000L >= g2 * t)
      assert(wet == exp)
      if (g2 == 0) assert(wet == 3)
    }
    // the class is discriminating at fixture scale
    assert(rows.map(_._2._3).distinct.size >= 2)
    spark.catalog.clearCache()
  }

  test("d41: batch perceptron equals brute-force epoch replay and " +
       "separates a separable planted corpus") {
    import spark.implicits._
    // marker tokens make the classes linearly separable
    val docs = (1L to 20L).map { i =>
      if (i % 2 == 0) (i, s"good great fine w$i", "en")
      else (i, s"bad awful poor w$i", "fr")
    }.toDF("doc_id", "text", "lang")
    def bucket(tok: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      (h(0) & 0xff).toLong
    }
    // brute-force replay of the batch epochs
    val rows = docs.collect().map(r => (r.getLong(0),
      if (r.getString(2) == "en") 1L else -1L,
      r.getString(1).split(" ").toSeq.groupBy(bucket)
        .map { case (b, ts) => b -> ts.size.toLong }))
    var w = Map.empty[Long, Long].withDefaultValue(0L)
    var errs = Seq.empty[Long]
    for (_ <- 1 to 3) {
      val mis = rows.filter { case (_, y, x) =>
        y * x.map { case (b, c) => c * w(b) }.sum <= 0 }
      errs :+= mis.length.toLong
      val g = mis.flatMap { case (_, y, x) =>
        x.map { case (b, c) => b -> y * c } }
        .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
      w = w ++ g.map { case (b, delta) => b -> (w(b) + delta) }
    }
    val got = graft.llm.TextAnalysis.perceptron(docs, col("doc_id"),
        col("text"), col("lang") === "en").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.map(_._3).distinct.toSeq == Seq(errs.mkString(",")))
    got.foreach { case (b, wv, _) => assert(wv == w(b)) }
    // separable: the final weights classify every doc correctly
    val finalErrs = rows.count { case (_, y, x) =>
      y * x.map { case (b, c) => c * w(b) }.sum <= 0 }
    assert(finalErrs == 0, s"planted corpus must separate, $finalErrs left")
    spark.catalog.clearCache()
  }

  test("least-cost path: starts at the argmax cell, steps are adjacent " +
       "with cost dropping by exactly the chamfer weight, ends at a source") {
    val path = WroQueries.leastCostPath(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(path.nonEmpty && path.head._1 == 0)
    val cost = WroQueries.costDistance(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // seq 0 is the max-cost cell (ties to smallest packed key)
    val maxD = cost.values.max
    val dest = cost.filter(_._2 == maxD).keys.minBy { case (r, c) => r * 100 + c }
    assert((path.head._2, path.head._3) == dest && path.head._4 == maxD)
    // each step moves to an adjacent cell and drops cost by its weight
    path.zip(path.tail).foreach { case ((_, r1, c1, d1), (_, r2, c2, d2)) =>
      val (dr, dc) = (math.abs(r1 - r2), math.abs(c1 - c2))
      assert(dr <= 1 && dc <= 1 && (dr, dc) != ((0, 0)))
      val w = if (dr == 0 || dc == 0) 3 else 4
      assert(d1 - d2 == w)
    }
    // the walk terminates at a source
    assert(path.last._4 == 0L)
    spark.catalog.clearCache()
  }

  test("d39: integer-log LLR equals brute-force md5 recount, target " +
       "docs score above pool average") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the dog ran to the cat", "en"),
      (3L, "le chien et le chat", "fr"),
      (4L, "el perro y el gato", "es"),
      (5L, "the cat and the dog sat", "en"),
      (6L, "le chat sat on le mat", "fr")).toDF("doc_id", "text", "lang")
    def bucket(tok: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      ((d(0) & 0xff))
    }
    def l2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val toks = docs.collect().map(r =>
      (r.getLong(0), r.getString(1).split(" ").toSeq, r.getString(2)))
    val all = toks.flatMap { case (_, ts, lg) => ts.map(t => (bucket(t), lg)) }
    val cr = all.groupBy(_._1).map { case (b, xs) => b -> xs.size.toLong }
    val ct = all.filter(_._2 == "en").groupBy(_._1)
      .map { case (b, xs) => b -> xs.size.toLong }
    val (nr, nt) = (all.size.toLong, all.count(_._2 == "en").toLong)
    val exp = toks.map { case (id, ts, _) =>
      id -> (ts.size.toLong, ts.map { t =>
        val b = bucket(t)
        l2(nr * (ct.getOrElse(b, 0L) + 1)) - l2(nt * (cr(b) + 1))
      }.sum)
    }.toMap
    val got = TextAnalysis.dsirWeights(docs, col("doc_id"), col("text"),
        col("lang") === "en").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == exp)
    // the statistic discriminates: mean llr of target docs exceeds mean
    // llr of non-target docs on this planted corpus
    val en = toks.filter(_._3 == "en").map(x => got(x._1)._2)
    val non = toks.filter(_._3 != "en").map(x => got(x._1)._2)
    assert(en.sum.toDouble / en.size > non.sum.toDouble / non.size)
  }
}
