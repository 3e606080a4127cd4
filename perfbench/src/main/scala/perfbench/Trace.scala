package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval of one operation, in epoch microseconds. `parent` is
  * the id of the span that caused it (-1 for the operation's root). */
final case class Span(id: Int, name: String, startUs: Long, endUs: Long,
                      parent: Int, op: Int)

object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** What an operation body sees: spans and counters are recorded only in
  * the traced phase, and cost nothing otherwise. */
final class OpContext(tracer: Option[Tracer]) {
  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
  def add(name: String, v: Double): Unit = tracer.foreach(_.add(name, v))
  def tracing: Boolean = tracer.isDefined
}

/** Held state after an operation, read without forcing a GC: storage
  * still held by persisted or checkpointed RDDs, the number of RDDs still
  * registered as persistent, and the size of the Spark local directory. */
final case class Held(bytes: Long, rdds: Int, localDirBytes: Long)

object Held {
  def probe(spark: SparkSession, localDir: java.io.File): Held = {
    val sc = spark.sparkContext
    Held(sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum,
      sc.getPersistentRDDs.size, dirBytes(localDir))
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}

/** Records spans around the benchmark's calls into each layer, and reads
  * the Spark engine boundaries (jobs, stages, tasks, block puts, query
  * planning phases) through listeners registered on the session. One
  * operation is open at a time; after it ends the listener bus is drained
  * so every event lands on the operation that caused it. */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var opId = -1
  private var opSpan = -1
  private var opStartUs = 0L
  private var startGcMs = 0L
  private var startCompileNs = 0L
  private var startCompiles = 0L
  // written by the listener thread, read after a drain
  private val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobStart = mutable.Map[Int, Long]()
  private val jobIntervals = mutable.ArrayBuffer[(Int, Long, Long)]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageIntervals = mutable.ArrayBuffer[(Int, Long, Long)]()
  private val phaseIntervals = mutable.ArrayBuffer[(String, Long, Long)]()

  def add(name: String, v: Double): Unit = synchronized { counters(name) += v }

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val s = Clock.nowUs
    try body
    finally {
      stack = stack.tail
      spans += Span(id, name, s, Clock.nowUs, parent, opId)
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      counters("scheduler.jobs") += 1
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((e.jobId, s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        counters("scheduler.stages") += 1
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime)
          stageIntervals += ((i.stageId, s, c))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      counters("scheduler.tasks") += 1
      val m = e.taskMetrics
      if (m != null) {
        counters("scan.bytes_read") += m.inputMetrics.bytesRead
        counters("scan.records_read") += m.inputMetrics.recordsRead
        counters("exchange.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counters("exchange.shuffle_records") += m.shuffleWriteMetrics.recordsWritten
        counters("exchange.fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
        counters("exec.task_run_s") += m.executorRunTime / 1e3
        counters("exec.task_cpu_s") += m.executorCpuTime / 1e9
        counters("exec.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Tracer.this.synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD && b.storageLevel.isValid)
          counters("materialize.blocks_put_bytes") += b.memSize + b.diskSize
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val rewrites = qe.optimizedPlan.collect { case p => p.expressions }
        .flatten.map(_.collect { case r: graft.functions.RangeRemap => r }.size).sum
      val codegenMs = Tracer.codegenMs(qe.executedPlan)
      Tracer.this.synchronized {
        for ((name, key) <- Seq("analysis" -> "plan.analysis_s",
            "optimization" -> "plan.optimizer_s", "planning" -> "plan.planning_s");
            p <- qe.tracker.phases.get(name)) {
          counters(key) += p.durationMs / 1e3
          phaseIntervals += ((key.stripSuffix("_s"), p.startTimeMs, p.endTimeMs))
        }
        counters("plan.range_rewrites") += rewrites
        counters("exec.codegen_stage_s") += codegenMs / 1e3
      }
    }
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    BenchBridge.drainListeners(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def beginOp(id: Int): Unit = {
    BenchBridge.drainListeners(sc)
    synchronized {
      counters.clear(); jobStart.clear(); jobIntervals.clear()
      stageJob.clear(); stageIntervals.clear(); phaseIntervals.clear()
    }
    opId = id
    opSpan = nextId; nextId += 1
    stack = List(opSpan)
    opStartUs = Clock.nowUs
    startGcMs = Tracer.gcMs
    startCompileNs = CodeGenerator.compileTime
    startCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }

  /** Close the operation `name` that began at `beginOp`, and return its
    * per-layer metrics. `endUs` is when the operation's own work ended. */
  def endOp(name: String, endUs: Long): Map[String, Double] = {
    val gcS = (Tracer.gcMs - startGcMs) / 1e3
    val compileS = (CodeGenerator.compileTime - startCompileNs) / 1e9
    val compiles = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - startCompiles).toDouble
    BenchBridge.drainListeners(sc)
    val root = Span(opSpan, s"op.$name", opStartUs, endUs, -1, opId)
    val own = spans.filter(s => s.op == opId) :+ root
    def innermost(tUs: Long): Int = own
      .filter(s => s.startUs <= tUs && tUs <= s.endUs)
      .minByOption(s => s.endUs - s.startUs).map(_.id).getOrElse(opSpan)
    val (metrics, engineSpans) = synchronized {
      val jobIds = jobIntervals.map { case (job, s, e) =>
        val id = nextId; nextId += 1
        job -> Span(id, "spark.job", s * 1000, e * 1000, innermost(s * 1000), opId)
      }.toMap
      val stages = stageIntervals.map { case (stage, s, e) =>
        val parent = stageJob.get(stage).flatMap(jobIds.get).map(_.id)
          .getOrElse(innermost(s * 1000))
        val id = nextId; nextId += 1
        Span(id, "spark.stage", s * 1000, e * 1000, parent, opId)
      }
      val phases = phaseIntervals.map { case (n, s, e) =>
        val id = nextId; nextId += 1
        Span(id, n, s * 1000, e * 1000, innermost(s * 1000), opId)
      }
      (counters.toMap, jobIds.values.toSeq ++ stages ++ phases)
    }
    spans += root
    spans ++= engineSpans
    stack = Nil
    val wallS = (endUs - opStartUs) / 1e6
    val jobsCovered = Tracer.unionUs(engineSpans.filter(_.name == "spark.job")
      .map(s => (math.max(s.startUs, opStartUs), math.min(s.endUs, endUs)))) / 1e6
    def spanSum(n: String): Double =
      own.filter(_.name == n).map(s => (s.endUs - s.startUs) / 1e6).sum
    val keys = Seq("ops.build", "ops.action", "catalog.read", "catalog.commit",
      "overlay.exec")
    metrics ++ keys.map(k => s"${k}_s" -> spanSum(k)) ++ Map(
      "scheduler.idle_s" -> math.max(0.0, wallS - jobsCovered),
      "exec.core_util" -> (if (wallS > 0) metrics("exec.task_run_s") / (wallS * cores) else 0.0),
      "exec.gc_s" -> gcS,
      "codegen.compile_s" -> compileS,
      "codegen.compiles" -> compiles)
  }

  /** Self time per span name: a span's duration minus the part of it that
    * its children cover. */
  def selfTimes: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = Tracer.unionUs(kids.getOrElse(s.id, Nil).toSeq.map(k =>
        (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs))))
      (if (s.name.startsWith("op.")) "op" else s.name) ->
        (s.endUs - s.startUs - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeSpans(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj("id" -> s.id, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "parent" -> s.parent, "op" -> s.op).text)
    } finally w.close()
  }
}

object Tracer {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Length covered by a set of intervals. */
  def unionUs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    for ((s, e) <- iv.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }

  /** Pipeline time of every whole-stage-codegen stage in an executed plan,
    * following adaptive plans into their final query stages. */
  def codegenMs(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => codegenMs(a.executedPlan)
    case q: QueryStageExec => codegenMs(q.plan)
    case w: WholeStageCodegenExec =>
      w.metrics.get("pipelineTime").map(_.value).getOrElse(0L) + codegenMs(w.child)
    case other => (other.children ++ other.subqueries).map(codegenMs).sum
  }
}
