package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every engine entry point runs in (`Bench`,
  * `Verify`, the `graft.tools` mains and the specs): `local[cores]` with
  * `cores` shuffle partitions, the UTC session time zone, no UI, and
  * `spark.sql.legacy.parquet.nanosAsLong` on from the start.
  *
  * The parquet setting is what `Tables.loadEvents` needs to read
  * nanosecond event timestamps, and it is part of every table's
  * resolution key in `Tables`: set only when the first events query runs,
  * it would make every table loaded before that query resolve again after
  * it. `loadEvents` still sets it for sessions built elsewhere.
  *
  * `settings` are applied on top, in order. A session already running in
  * this JVM is joined, not built again. */
object Session {
  def apply(cores: String, logLevel: String = "WARN",
      settings: Seq[(String, String)] = Nil): SparkSession = {
    val config = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    settings.foreach { case (k, v) => config.config(k, v) }
    val spark = config.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
