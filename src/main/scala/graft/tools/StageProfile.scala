package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.SparkEntry

/** Dev probe: per-stage wall/CPU/shuffle breakdown for selected declared
  * queries — the guide §1.1 empirical loop with the UI disabled. Each
  * query runs once untimed (codegen/JIT warmup), then once instrumented;
  * a listener collects per-stage task-time sums, shuffle bytes and peak
  * task counts so the expensive stage (and whether it is compute, fetch
  * or spill) is readable from stdout.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.StageProfile q143 q120
  */
object StageProfile {
  final case class StageRow(id: Int, name: String, tasks: Int,
      wallMs: Long, runMs: Long, cpuMs: Long, gcMs: Long,
      shufReadMB: Double, fetchWaitMs: Long, shufWriteMB: Double,
      shufWriteMs: Long, inputMB: Double, spillMB: Double, outRows: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session(cpus)

    val rows = mutable.ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        rows.synchronized {
          rows += StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(80),
            si.numTasks, wall, m.executorRunTime, m.executorCpuTime / 1000000,
            m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleReadMetrics.fetchWaitTime,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.shuffleWriteMetrics.writeTime / 1000000,
            m.inputMetrics.bytesRead / 1e6,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
            m.outputMetrics.recordsWritten)
        }
      }
    }

    val names = (if (args.isEmpty) SparkEntry.queries
      else SparkEntry.select("StageProfile", args.toSeq, _.contains(_))).keys.toSeq.sorted
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warmup (codegen + JIT + parquet footers), uninstrumented
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      graft.SparkUtil.unpersistTrackedCaches(); spark.catalog.clearCache()
      System.gc()
      rows.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val tot = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      graft.SparkUtil.unpersistTrackedCaches(); spark.catalog.clearCache()
      println(f"%n===== $name: $tot%.2f s, ${rows.size} stages =====")
      println("stage tasks  wall_ms   run_ms   cpu_ms  gc_ms  in_MB  sh_rd_MB fetch_ms sh_wr_MB wr_ms spill_MB  name")
      rows.sortBy(-_.wallMs).take(12).foreach { r =>
        println(f"${r.id}%5d ${r.tasks}%5d ${r.wallMs}%8d ${r.runMs}%8d ${r.cpuMs}%8d ${r.gcMs}%6d ${r.inputMB}%6.1f ${r.shufReadMB}%9.1f ${r.fetchWaitMs}%8d ${r.shufWriteMB}%8.1f ${r.shufWriteMs}%5d ${r.spillMB}%8.1f  ${r.name}")
      }
      val sumWall = rows.map(_.wallMs).sum
      println(f"stage wall sum: ${sumWall}%d ms (query $tot%.2f s; gap = driver/planning/uncovered)")
    }
    spark.stop()
  }
}
