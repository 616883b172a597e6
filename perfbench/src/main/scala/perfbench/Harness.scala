package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run of one workload in a fresh JVM, driven only through
  * the engine's public entry points (`SparkEntry.queries`, `Tables.load`).
  *
  * Phases, in order:
  *  1. set-up, timed from JVM start: a session plus `Tables.load` of every
  *     input table;
  *  2. the first pass: every query once, written to parquet under the dump
  *     directory, where the caller checks it against the stored oracles;
  *  3. `warm` warm-up passes, a fixed number per workload, so that a faster
  *     or slower engine is timed at the same point of the JIT curve;
  *  4. timed passes: at least `timed` of them, again a fixed number per
  *     workload, then more whole passes while fewer than `seconds` have
  *     elapsed.
  * Passes 3 and 4 sink each query into the `noop` format, which evaluates
  * every output row and writes nothing. Spark's cache is cleared before
  * every query, so no query reuses another's cached intermediates. With
  * `trace` set, timed passes alternate between untraced and traced
  * ([[Tracer]]), so the per-layer figures and the tracing overhead come
  * from one JVM.
  *
  * The raw record (every pass, every query) is written as JSON to `out`;
  * metrics are derived from it by the caller.
  */
object Harness {
  val Threads = 2

  final case class Opts(queries: Seq[String], tables: Seq[String], input: String,
      dump: String, warm: Int, timed: Int, seconds: Double, trace: Boolean, out: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("queries").split(',').toSeq, need("tables").split(',').toSeq, need("input"),
      need("dump"), need("warm").toInt, need("timed").toInt, need("seconds").toDouble,
      need("trace") == "1", need("out"))
  }

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Threads]")
      .config("spark.sql.shuffle.partitions", Threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def loadInput(spark: SparkSession, dir: String, table: String): DataFrame =
    if (table == "events") graft.Tables.loadEvents(spark, dir) else graft.Tables.load(spark, dir, table)

  def cpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of the JIT compiler threads, summed from /proc/self/task
    * (utime + stime, at 100 ticks per second). The harness starts them all
    * at JVM start (-XX:-UseDynamicNumberOfCompilerThreads), so none exits
    * and takes its time with it. */
  def jitCpuNanos(): Long =
    try {
      val tasks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty)
      tasks.iterator.map { t =>
        val stat = try new String(Files.readAllBytes(t.toPath.resolve("stat")))
          catch { case NonFatal(_) => "" }
        val close = stat.lastIndexOf(')')
        val name = if (close > 0) stat.substring(stat.indexOf('(') + 1, close) else ""
        if (name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre")) {
          val f = stat.substring(close + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 10000000L
        } else 0L
      }.sum
    } catch { case NonFatal(_) => -1L }

  def loadavg(): Double =
    try Files.readAllLines(Paths.get("/proc/loadavg")).get(0).split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** CPU time the hypervisor gave to other guests (the `steal` column of
    * /proc/stat, at 100 ticks per second), summed over all CPUs. */
  def stealS(): Double =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100.0
    catch { case NonFatal(_) => -1.0 }

  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val fns = o.queries.map(q => q -> graft.SparkEntry.queries.getOrElse(q,
      throw new IllegalArgumentException(s"unknown query $q")))
    val rec = mutable.LinkedHashMap[String, Any]()
    rec("loadavg_start") = loadavg()
    val steal0 = stealS()

    // 1. set-up
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    o.tables.foreach(loadInput(spark, o.input, _))
    rec("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // 2. first pass, outputs dumped for the check
    val tracer = if (o.trace) Some(new Tracer(spark, o.input, o.tables)) else None
    var attempted, failed = 0L
    val failedQueries = mutable.LinkedHashSet[String]()
    // The query's wall ms, the ms spent constructing its DataFrame, the
    // process CPU ms (every JVM thread) while it ran, and the JIT compiler
    // threads' share of that CPU.
    final case class Timing(wallMs: Double, buildMs: Double, cpuMs: Double, jitMs: Double)
    def runQuery(name: String, fn: (SparkSession, String) => DataFrame, dump: Boolean)
        : Timing = {
      spark.sparkContext.setJobGroup(name, name)
      attempted += 1
      val c0 = cpuNanos()
      val j0 = jitCpuNanos()
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        val df = fn(spark, o.input)
        t1 = System.nanoTime()
        if (dump) df.write.mode("overwrite").parquet(s"${o.dump}/$name")
        else df.write.format("noop").mode("overwrite").save()
      } catch {
        case NonFatal(e) =>
          failed += 1
          failedQueries += name
          System.err.println(s"[perfbench] $name failed:")
          e.printStackTrace()
      } finally spark.sparkContext.clearJobGroup()
      Timing((System.nanoTime() - t0) / 1e6, (t1 - t0) / 1e6, (cpuNanos() - c0) / 1e6,
        (jitCpuNanos() - j0) / 1e6)
    }
    def pass(dump: Boolean, traced: Boolean): Map[String, Any] = {
      System.gc()
      if (traced) tracer.get.attach()
      val steal0 = stealS()
      val j0 = jitCpuNanos()
      val c0 = cpuNanos()
      val t0 = System.nanoTime()
      val perQuery = fns.map { case (name, fn) =>
        // each query starts with no cached data, as its own pipeline would
        spark.catalog.clearCache()
        if (traced) {
          var t: Timing = null
          val layers = tracer.get.around(name) {
            t = runQuery(name, fn, dump)
            (t.wallMs, t.buildMs)
          }
          name -> (t, Some(layers))
        } else name -> (runQuery(name, fn, dump), None)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNanos() - c0) / 1e9
      val jit = (jitCpuNanos() - j0) / 1e9
      if (traced) tracer.get.detach()
      Map("wall_s" -> wall, "cpu_s" -> cpu, "jit_cpu_s" -> jit, "steal_s" -> (stealS() - steal0),
        "query_ms" -> perQuery.map { case (n, (t, _)) => n -> t.wallMs }.toMap,
        "query_cpu_ms" -> perQuery.map { case (n, (t, _)) => n -> t.cpuMs }.toMap,
        "query_jit_cpu_ms" -> perQuery.map { case (n, (t, _)) => n -> t.jitMs }.toMap) ++ (
        if (traced) Map("layers" -> perQuery.map { case (n, (_, l)) => n -> l.get }.toMap)
        else Map.empty)
    }
    val first = pass(dump = true, traced = o.trace)
    rec("first_pass") = first

    // 3. warm-up, recorded so that a noisy run can be told from its curve
    rec("warmup") = (1 to o.warm).map { _ =>
      val p = pass(dump = false, traced = false)
      Map("wall_s" -> p("wall_s"), "cpu_s" -> p("cpu_s"), "jit_cpu_s" -> p("jit_cpu_s"),
        "steal_s" -> p("steal_s"))
    }

    // 4. timed passes
    val timed = mutable.ArrayBuffer[Map[String, Any]]()
    val w0 = System.nanoTime()
    var i = 0
    // untraced: the workload's fixed count; traced: one untraced, one traced
    val minTimed = if (o.trace) 2 else o.timed
    while ((System.nanoTime() - w0) / 1e9 < o.seconds || timed.size < minTimed) {
      timed += pass(dump = false, traced = o.trace && i % 2 == 1)
      i += 1
    }
    rec("passes") = timed.toSeq
    rec("attempted") = attempted
    rec("failed") = failed
    rec("failed_queries") = failedQueries.toSeq
    rec("peak_rss_mb") = peakRssMb()
    rec("loadavg_end") = loadavg()
    rec("steal_s") = stealS() - steal0
    Files.writeString(Paths.get(o.out), Json(rec.toMap))
    spark.stop()
  }
}

/** Writes `SparkEntry.oracleSql` for the named queries as a JSON object,
  * for the DuckDB oracle command. */
object OracleSqlDump {
  def main(args: Array[String]): Unit = args match {
    case Array(queries, out) =>
      val sql = queries.split(',').map(q => q -> graft.SparkEntry.oracleSql.getOrElse(q,
        throw new IllegalArgumentException(s"no oracle SQL for $q"))).toMap
      Files.writeString(Paths.get(out), Json(sql))
    case _ => throw new IllegalArgumentException("usage: OracleSqlDump <q1,q2,...> <out.json>")
  }
}

/** Minimal JSON writer for the harness record (maps, sequences, numbers,
  * strings). */
object Json {
  def apply(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case Some(x) => apply(x)
    case None => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case s => str(s.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
