package graft.tools

import graft.SparkEntry

/** Dev tool: print formatted physical plans for selected queries (all when
  * no args) to review broadcast choice, parquet pushdown/pruning, and
  * whole-stage-codegen coverage. Each query's tracked caches are released
  * after its plan is printed, as `Verify` and `Bench` do between queries,
  * so no plan reads an earlier query's cached relation. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Session(cpus, logLevel = "ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      graft.SparkUtil.unpersistTrackedCaches()
    }
    spark.stop()
  }
}
