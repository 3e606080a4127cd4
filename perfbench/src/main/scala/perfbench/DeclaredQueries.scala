package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Declared queries from `graft.SparkEntry.queries`, run as whole passes in
  * the generated (seeded) order over the generated tables. Each operation
  * builds one query and collects its answer.
  *
  * The warm-up pass is the first pass: its answers are kept and, after the
  * run, written as parquet for run.py to compare with `SparkEntry.oracleSql`
  * in DuckDB. Every later pass must reproduce the first pass's row count
  * and order-independent hash. */
final class DeclaredQueries(dataDir: String, workDir: File) extends Workload {
  /** The generated pass order; each line names every query once. */
  private val passes: IndexedSeq[Seq[String]] = {
    val src = scala.io.Source.fromFile(s"$dataDir/order.txt")
    try src.getLines().map(_.split(" ").toSeq).toIndexedSeq finally src.close()
  }
  private val queries = passes.head.toSet
  private var pass = 0
  private var spark: SparkSession = _
  private val first = mutable.Map[String, (Long, Long, Long)]()
  private val firstRows = mutable.Map[String, (Array[Row], StructType)]()

  def prepare(s: SparkSession): Unit = {
    spark = s
    graft.Tables.register(spark, dataDir)
  }

  def nextBlock(): Seq[Op] = {
    val names = passes(pass % passes.size)
    pass += 1
    names.map(name => Op(name, ctx => runQuery(name, ctx)))
  }

  private def runQuery(name: String, ctx: OpContext): () => Boolean = {
    val df = ctx.span("ops.build")(graft.SparkEntry.queries(name)(spark, dataDir))
    val rows = ctx.span("ops.action")(df.collect())
    () => {
      val sig = DeclaredQueries.signature(rows)
      first.get(name) match {
        case Some(want) => sig == want
        case None =>
          first(name) = sig
          firstRows(name) = (rows, df.schema)
          true
      }
    }
  }

  def failures: Seq[String] = Nil

  /** Writes the first pass's answers and the oracle SQL for run.py. */
  def finish(s: SparkSession): Map[String, Double] = {
    val out = new File(workDir, "answers")
    for ((name, (rows, schema)) <- firstRows)
      s.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(out, name).getPath)
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    java.nio.file.Files.write(new File(workDir, "oracle.json").toPath,
      Json.obj(oracle.toSeq: _*).text.getBytes("UTF-8"))
    Map.empty
  }
}

object DeclaredQueries {
  /** Row count plus two order-independent 64-bit folds of per-row hashes.
    * Floating-point values enter at 12 significant digits, so a different
    * summation order across passes does not read as a different answer. */
  def signature(rows: Array[Row]): (Long, Long, Long) = {
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val s = canonical(r)
      val h = (MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL)
      sum += h
      xor ^= h
    }
    (rows.length.toLong, sum, xor)
  }

  private def canonical(v: Any): String = v match {
    case d: Double => f"$d%.12g"
    case f: Float => f"${f.toDouble}%.7g"
    case r: Row => r.toSeq.map(canonical).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + ":" + canonical(x) }.sorted
        .mkString("{", ",", "}")
    case null => "null"
    case other => other.toString
  }
}
