package graft

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graft.DatasetBridge

/** Loaders for the generated fixture parquet tables (TESTDATA.md).
  *
  * Each table is resolved once per session, the way a catalog-registered
  * warehouse table is: a path-based `spark.read.parquet` lists the files
  * and runs one Spark job to infer the parquet schema, and the engine
  * loads the same few tables hundreds of times per session.
  *
  *  - '''Cache key.''' The session (by identity), the qualified table path,
  *    and the session settings that change what parquet schema inference
  *    returns ([[InferenceConfs]]). A load made after one of them changes
  *    resolves the table again under the new settings.
  *  - '''Fingerprint.''' On first load the table's leaf files are listed
  *    with Hadoop `listStatus` (the file itself for a single-file table,
  *    the part files, recursively, for a directory), and each file's path,
  *    length and modification time is kept beside the resolved
  *    `LogicalRelation`.
  *  - '''Later loads''' list the files again (no Spark job, no schema
  *    read) and, if the fingerprint still matches, return a DataFrame over
  *    `newInstance()` of the cached relation: fresh attribute IDs, so a
  *    query that loads one table twice still self-joins correctly. A table
  *    whose files were added, removed or rewritten is resolved again.
  *
  * A cached relation holds its session, so entries are dropped when that
  * session's SparkContext stops (swept on the next load), not by GC.
  */
object Tables {
  /** Every table of a fixture dir, `events` first: [[loadEvents]] sets a
    * parquet setting that is part of every table's cache key, so in a
    * session not built by [[Session]] (which sets it at start) resolving it
    * first resolves the others under the setting later loads see. */
  val Fixture: Seq[String] = Seq("events", "region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings")

  /** Session settings that change the schema parquet inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private final case class Key(path: String, confs: Seq[Option[String]])
  /** (path, length, modification time) of each leaf file, sorted by path. */
  private type Fingerprint = Seq[(String, Long, Long)]
  private final case class Resolved(relation: LogicalRelation, files: Fingerprint)

  private val resolved =
    new java.util.IdentityHashMap[SparkSession, mutable.Map[Key, Resolved]]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = new Path(s"$dir/$name.parquet")
    val fs = raw.getFileSystem(spark.sessionState.newHadoopConf())
    val path = fs.makeQualified(raw)
    val key = Key(path.toString, InferenceConfs.map(spark.conf.getOption))
    // A missing path is left to spark.read.parquet, which reports it.
    val files = try fingerprint(fs, path) catch { case _: java.io.FileNotFoundException => Nil }
    val cached = resolved.synchronized {
      resolved.keySet.removeIf(_.sparkContext.isStopped)
      Option(resolved.get(spark)).flatMap(_.get(key)).filter(_.files == files)
    }
    val relation = cached.map(_.relation).getOrElse {
      val fresh = spark.read.parquet(path.toString).queryExecution.analyzed match {
        case r: LogicalRelation => r
        case other => throw new IllegalStateException(
          s"parquet read of $path resolved to ${other.nodeName}, not a LogicalRelation")
      }
      if (files.nonEmpty) resolved.synchronized {
        resolved.computeIfAbsent(spark, _ => mutable.Map.empty)(key) = Resolved(fresh, files)
      }
      fresh
    }
    DatasetBridge.ofRows(spark, relation.newInstance())
  }

  private def fingerprint(fs: FileSystem, path: Path): Fingerprint = {
    def leaves(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s))
    leaves(path).map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sortBy(_._1)
  }

  /** The events table's `ts` encoding has varied across fixture generations:
    * nanosecond INT64 (which Spark's parquet reader rejects outright —
    * [PARQUET_TYPE_ILLEGAL] INT64 TIMESTAMP(NANOS) — unless read as long via
    * the legacy conf) and native microsecond TIMESTAMP without a timezone
    * (which Spark infers as TIMESTAMP_NTZ). Be schema-adaptive: enable the
    * legacy nanos-as-long read (a no-op for non-nanos files; [[Session]]
    * sessions have it on from the start, others get it here), then normalize
    * whatever `ts` arrives as to a plain TIMESTAMP — long nanos via integer
    * division (double math would lose precision above 2^53 ns), NTZ via a
    * cast (exact under the UTC session timezone all entry points set). */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw // already a plain TIMESTAMP
    }
  }
}
