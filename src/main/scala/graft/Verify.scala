package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits 1 when any
  * query failed (after listing them), 2 on bad arguments. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query-name prefixes — dev-loop
    // filter so one new query can be re-verified without re-dumping all
    // 75+. The driver always calls with two args (full dump).
    // A prefix that matches no query is refused like a bad arity.
    val (sfDir, outDir, selected) = try args match {
      case Array(s, o)    => (s, o, SparkEntry.queries)
      case Array(s, o, f) =>
        (s, o, SparkEntry.select("queryPrefix", f.split(',').toSeq, _.startsWith(_)))
      case _ => throw new IllegalArgumentException(s"expected 2 or 3 arguments, got ${args.length}")
    } catch { case e: IllegalArgumentException =>
      System.err.println(s"${e.getMessage}\nusage: graft.Verify <sfDir> <outDir> [queryPrefix,...]")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session(cpus)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // Diagnosability sidecar: canonical md5 over the dump just
        // written (read back, so it hashes exactly the bytes the
        // driver's gate will read), using the documented
        // local_verify.py normalization re-expressed in tools.Canon.
        // A driver hash mismatch can then be triaged row-by-row with
        // tools.HashCheck instead of replaying blind.
        Files.writeString(Paths.get(s"$outDir/$name.hash"),
          tools.Canon.sidecar(spark.read.parquet(s"$outDir/$name")))
      } catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Operator-internal caches (shingle sets, vector norms) are
      // per-query intermediates; release them so 50+ queries in one
      // session don't accumulate to LRU-eviction pressure.
      SparkUtil.unpersistTrackedCaches()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // DuckDB memory posture, prepended to every oracle: an in-memory
    // DuckDB connection has NO temp_directory, so it cannot spill — under
    // host memory pressure a long sweep dies with bad_alloc on tiny
    // blocks (the r6 q77–q88 window: 10 previously-green oracles OOMed at
    // 32 KB allocations). SET persists per connection, but prefixing every
    // oracle also covers a fresh-connection-per-query runner. Settings are
    // session-scoped: they change where DuckDB puts bytes, never results.
    // duckdb-python `execute()` runs multi-statement SQL and exposes the
    // last statement's cursor, so the compare loop is unaffected
    // (verified against duckdb 1.0.0).
    val prologue = "SET memory_limit='8GB'; SET threads=16; " +
      "SET temp_directory='/tmp/graft_duckdb_spill'; "
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(prologue + v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
