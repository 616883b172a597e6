package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query layer ledger, taken from outside the engine: a SparkListener
  * (jobs, stages, tasks, busy time, shuffle, spill, scanned rows), a
  * QueryExecutionListener (Catalyst phase times and the executed plans),
  * Spark's static codegen and file-discovery metrics, and JVM MXBeans.
  *
  * Queries run one at a time. After each one, [[drain]] runs a one-task
  * marker job and waits until the listener has seen it end; both listeners
  * sit on Spark's shared event queue, which delivers in order, so every
  * event of the query has been counted by then.
  */
final class Tracer(spark: SparkSession, input: String, tables: Seq[String]) {
  private val Marker = "perfbench-drain"

  private final class Counts {
    var jobs, stages, tasks = 0L
    var busyMs, taskCpuNs, shuffleWrite, shuffleRead, spill, scanRows = 0L
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    val executions = mutable.ArrayBuffer[QueryExecution]()
  }
  private var c = new Counts
  private var latch = new CountDownLatch(1)
  private val jobStart = mutable.Map[Int, Long]()
  private val markerStages = mutable.Set[Int]()
  private var running = 0
  private var busySince = 0L

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      if (Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == Marker))
        markerStages ++= e.stageIds
      else {
        c.jobs += 1
        jobStart(e.jobId) = e.time
        if (running == 0) busySince = e.time
        running += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId) match {
        case Some(t0) =>
          c.jobSpans += ((t0, e.time))
          running -= 1
          if (running == 0) c.busyMs += e.time - busySince
        case None => latch.countDown()
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      if (!markerStages(e.stageInfo.stageId)) c.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (!markerStages(e.stageId)) {
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.taskCpuNs += m.executorCpuTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.scanRows += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized { c.executions += qe }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Warm `Tables.load` time of each input table, taken by the benchmark
    * itself when a traced pass starts, before its clock runs. */
  private var loadMs = Map.empty[String, Double]

  def attach(): Unit = {
    loadMs = tables.map { t =>
      val t0 = System.nanoTime()
      Harness.loadInput(spark, input, t)
      t -> (System.nanoTime() - t0) / 1e6
    }.toMap
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    drain()
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
  }

  private def drain(): Unit = {
    synchronized { latch = new CountDownLatch(1) }
    spark.sparkContext.setJobGroup(Marker, Marker)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 60 s")
  }

  private def codegen: (Long, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum)
  }
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  /** Runs one query (`body` returns its wall and construction ms) and
    * returns its ledger row. */
  def around(query: String)(body: => (Double, Double)): Map[String, Double] = {
    synchronized { c = new Counts }
    val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val (cg0, cgMs0) = codegen
    val gc0 = gcMs
    val jit0 = jitMs
    heapPools.foreach(_.resetPeakUsage())
    val start = System.currentTimeMillis()
    val (wallMs, buildMs) = body
    drain()
    val (cg1, cgMs1) = codegen
    val row = mutable.LinkedHashMap[String, Double]()
    val k = synchronized { val k = c; c = new Counts; k }
    row("query.ms") = wallMs
    row("tables.files_listed") = (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0).toDouble
    row("build.ms") = buildMs
    val buildEnd = start + math.ceil(buildMs).toLong
    val buildJobs = k.jobSpans.filter(_._1 <= buildEnd)
    row("build.jobs") = buildJobs.size.toDouble
    row("build.job_ms") = buildJobs.map(s => s._2 - s._1).sum.toDouble
    row("plan.ms") = k.executions.map(_.tracker.phases.values.map(_.durationMs).sum).sum.toDouble
    row("codegen.compiles") = (cg1 - cg0).toDouble
    row("codegen.compile_ms") = (cgMs1 - cgMs0).toDouble
    val executed = k.executions.map(_.executedPlan).toSeq
    val nodes = Plans.nodes(executed)
    def all[T](pf: PartialFunction[SparkPlan, T]): Seq[T] = nodes.collect(pf)
    val scans = all { case s: FileSourceScanLike => s }
    row("plan.exchanges") = all { case e: ShuffleExchangeLike => e }.size.toDouble
    row("plan.broadcasts") = all { case e: BroadcastExchangeLike => e }.size.toDouble
    row("plan.scans") = scans.size.toDouble
    row("plan.readschema_max_cols") = (0 +: scans.map(_.requiredSchema.length)).max.toDouble
    row("exec.jobs") = k.jobs.toDouble
    row("exec.stages") = k.stages.toDouble
    row("exec.tasks") = k.tasks.toDouble
    row("exec.busy_ms") = k.busyMs.toDouble
    row("exec.task_cpu_ms") = k.taskCpuNs / 1e6
    row("shuffle.write_mb") = k.shuffleWrite / 1048576.0
    row("shuffle.read_mb") = k.shuffleRead / 1048576.0
    row("spill.mb") = k.spill / 1048576.0
    row("scan.rows") = k.scanRows.toDouble
    row("out.rows") = executed.lastOption.map(Plans.outputRows).getOrElse(0L).toDouble
    row("exec.join_rows") = all { case j: BaseJoinExec => Plans.metric(j, "numOutputRows") }.sum.toDouble
    row("lookup.broadcast_mb") =
      all { case b: BroadcastExchangeLike => Plans.metric(b, "dataSize") }.sum / 1048576.0
    row("driver.gap_ms") = wallMs - k.busyMs
    row("jvm.gc_ms") = (gcMs - gc0).toDouble
    row("jvm.jit_ms") = (jitMs - jit0).toDouble
    row("jvm.heap_peak_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    // what resolving the input tables its plans scanned costs, warm
    val scanned = scans.flatMap(_.relation.location.rootPaths.map(_.getName)).toSet
    row("tables.load_ms") = tables.filter(t => scanned(s"$t.parquet")).map(loadMs).sum
    row.toMap
  }
}

object Plans extends AdaptiveSparkPlanHelper {
  /** Every node of the plans, with subqueries, AQE stages and the plans of
    * the cached relations they read (each cached plan once, as it is built
    * once). */
  def nodes(plans: Seq[SparkPlan]): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }.flatMap {
      case m: InMemoryTableScanExec if seen.add(m.relation.cacheBuilder) =>
        m +: walk(m.relation.cachedPlan)
      case n => Seq(n)
    }
    plans.flatMap(walk)
  }

  def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Rows the query produced: the row count of the topmost node that
    * counts rows, looking through the sink and the AQE wrappers. */
  def outputRows(p: SparkPlan): Long = p match {
    case w: V2TableWriteExec => outputRows(w.query)
    case a: AdaptiveSparkPlanExec => outputRows(a.executedPlan)
    case s: QueryStageExec => outputRows(s.plan)
    case _ if p.metrics.contains("numOutputRows") => metric(p, "numOutputRows")
    case _ => p.children.map(outputRows).sum
  }
}
