package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation of a workload. `body` runs the timed work and returns
  * the check of its answer, which runs after the clock has stopped. */
final case class Op(name: String, body: OpContext => () => Boolean)

trait Workload {
  /** Set-up on the session: register inputs, author state. */
  def prepare(spark: SparkSession): Unit
  /** The next block of operations (a block of requests, or a whole pass).
    * Warm-up blocks come from here too; their answers are checked. */
  def nextBlock(): Seq[Op]
  /** Checks made outside any operation (set-up results, storage). */
  def failures: Seq[String]
  /** Extra named values for the report, read at the end of the run. */
  def finish(spark: SparkSession): Map[String, Double]
}

final case class OpResult(name: String, phase: String, block: Int,
                          latencyS: Double, ok: Boolean, held: Held,
                          layers: Map[String, Double])

/** The benchmark's JVM side. run.py generates the inputs, starts this
  * program once per run and turns its result file into the metrics:
  *
  * {{{
  *   perfbench.Main --workload W --data DIR --work DIR --warmup-blocks K
  *                  --blocks B --trace 0|1 --cores N --launched-ms T
  * }}}
  *
  * A run is: build the session and prepare the workload on it, K untimed
  * warm-up blocks, then the timed phase, a closed loop with one client
  * that runs B blocks. With --trace 1 half the timed blocks are traced and
  * half are not, so that the run measures its own tracing overhead. */
object Main {
  def main(argv: Array[String]): Unit = {
    val enteredMs = System.currentTimeMillis()
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workDir = new File(args("work"))
    val dataDir = args("data")
    val warmupBlocks = args("warmup-blocks").toInt
    val blocks = args("blocks").toInt
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val localDir = new File(sys.env.getOrElse("SPARK_LOCAL_DIRS",
      new File(workDir, "local").getPath))
    val workload: Workload = args("workload") match {
      case "overlay_service" => new OverlayService(dataDir, workDir)
      case _ => new DeclaredQueries(dataDir, workDir)
    }

    val s0 = System.nanoTime()
    val spark = Session.build(cores, workDir)
    workload.prepare(spark)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val config = Session.describe(spark)

    val results = mutable.ArrayBuffer[OpResult]()
    var block = 0
    def run(op: Op, phase: String, tracer: Option[Tracer]): Unit = {
      val ctx = new OpContext(tracer)
      tracer.foreach(_.beginOp(results.size))
      val t0 = System.nanoTime()
      val check = try op.body(ctx) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${op.name} failed: $e")
          () => false
      }
      val t1 = System.nanoTime()
      val endUs = Clock.nowUs
      // drop the operation's own cache() blocks after the clock, as
      // graft.Bench does; what survives this is what the probe reports
      spark.catalog.clearCache()
      val layers = tracer.map(_.endOp(op.name, endUs)).getOrElse(Map.empty)
      val held = Held.probe(spark, localDir)
      val ok = try check() catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${op.name} check failed: $e"); false
      }
      if (!ok) System.err.println(s"[perfbench] wrong answer: ${op.name} ($phase)")
      results += OpResult(op.name, phase, block, (t1 - t0) / 1e9, ok, held,
        layers)
    }

    val w0 = System.nanoTime()
    for (_ <- 1 to warmupBlocks) workload.nextBlock().foreach(run(_, "warmup", None))
    val warmupS = (System.nanoTime() - w0) / 1e9

    def timed(phase: String, n: Int, tracer: Option[Tracer]): Unit =
      for (_ <- 1 to n) {
        block += 1
        workload.nextBlock().foreach(run(_, phase, tracer))
      }
    val tracer = if (traced) Some(new Tracer(spark, cores)) else None
    tracer match {
      case Some(t) =>
        // untraced and traced blocks in ABBA order, so that neither half
        // runs later in the JIT's warm-up than the other
        for (i <- 0 until 2 * ((blocks + 1) / 2))
          if (i % 4 == 1 || i % 4 == 2) {
            t.start(); timed("traced", 1, tracer); t.stop()
          } else timed("untraced", 1, None)
      case None => timed("timed", blocks, None)
    }

    val extra = workload.finish(spark)
    tracer.foreach(_.writeSpans(new File(workDir, "spans.jsonl")))
    val self = tracer.map(_.selfTimes).getOrElse(Map.empty)
    spark.stop()

    val json = Json.obj(
      "boot_s" -> (enteredMs - args("launched-ms").toLong) / 1e3,
      "session_s" -> sessionS,
      "warmup_s" -> warmupS,
      "peak_rss_mb" -> peakRssMb,
      "session" -> config,
      "failures" -> workload.failures,
      "extra" -> extra,
      "self_s" -> self,
      "ops" -> results.map(r => Json.obj(
        "name" -> r.name, "phase" -> r.phase, "block" -> r.block,
        "latency_s" -> r.latencyS, "ok" -> r.ok, "held_bytes" -> r.held.bytes,
        "held_rdds" -> r.held.rdds, "local_dir_bytes" -> r.held.localDirBytes,
        "layers" -> r.layers)))
    Files.write(new File(workDir, "result.json").toPath,
      json.text.getBytes(StandardCharsets.UTF_8))
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** The benchmark's session: built the way the test session is. */
object Session {
  def build(cores: Int, workDir: File): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def describe(spark: SparkSession): Map[String, Any] = {
    val c = spark.conf
    Map(
      "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "graft_extensions_installed" ->
        spark.catalog.functionExists("range_remap").toString,
      "shuffle_partitions" -> c.get("spark.sql.shuffle.partitions"),
      "session_time_zone" -> c.get("spark.sql.session.timeZone"),
      "parquet_nanos_as_long" -> c.get("spark.sql.legacy.parquet.nanosAsLong"),
      "adaptive_enabled" -> c.get("spark.sql.adaptive.enabled"),
      "default_parallelism" -> spark.sparkContext.defaultParallelism.toString)
  }
}

/** Just enough JSON for the result file. */
object Json {
  final case class Raw(text: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).text
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
