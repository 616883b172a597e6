package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, coalesce, col, explode, lit, pmod, sequence, spark_partition_id, struct, sum, xxhash64}

/** Shared plan-shaping helpers. */
object SparkUtil {

  /**
   * Ensure at least the session's default parallelism before heavy per-row
   * compute. Small local parquet files are a single row group — one input
   * partition — which would serialize expensive map work (shingling,
   * MinHash, pairwise cosine) on one core. On a real cluster the scan
   * already yields >= cores splits, so this is a no-op there; the check
   * avoids paying an unconditional shuffle at scale.
   *
   * The probe is the optimizer's size estimate (driver-side planning only)
   * against `files.maxPartitionBytes` — the same arithmetic FileSourceScan
   * uses to split files — NOT `df.rdd.getNumPartitions`, which would force
   * a plan-to-RDD conversion (materializing the physical plan outside
   * AQE's view) just to read a number.
   */
  def ensureParallelism(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val target = sess.sparkContext.defaultParallelism
    val maxBytes = sess.sessionState.conf.filesMaxPartitionBytes
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estBytes < BigInt(maxBytes) * target) df.repartition(target) else df
  }

  /**
   * [[ensureParallelism]] for JOIN PROBE sides: skipped entirely when the
   * input reads a BUCKETED table (r16 opt) — bucketing IS the useful
   * partitioning (the zero-Exchange co-located join/window contract,
   * plan-pinned in PlanContractSpec), and a repartition would both break
   * that contract and pay a shuffle to destroy information. Non-bucketed
   * inputs keep the conditional repartition: a one-row-group local file
   * serializes the whole probe on one task, while at scale the scan
   * already splits and the condition no-ops.
   *
   * The bucketed check is deliberately ANY-MATCH over the whole probe
   * plan (ADVICE r16): a probe composing a bucketed scan anywhere keeps
   * its layout untouched, trading the rare composed case (a tiny
   * non-bucketed probe that merely joins a bucketed table upstream
   * stays single-task) for never inserting an Exchange above a
   * bucket-contract plan (PlanContractSpec pins that contract); at
   * scale the conditional no-ops either way.
   */
  def ensureProbeParallelism(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val bucketed = df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation
        if (lr.relation match {
          case fs: HadoopFsRelation => fs.bucketSpec.isDefined
          case _                    => false
        }) => ()
    }.isDefined
    if (bucketed) df else ensureParallelism(df)
  }

  /**
   * Track an operator-internal `cache()` so a long-lived session composing
   * many operators can release the shingle-set/vector intermediates:
   * operators return LAZY DataFrames, so they cannot unpersist before the
   * caller evaluates — instead every internal cache registers here and the
   * caller (or driver harness) calls [[unpersistTrackedCaches]] once the
   * results are materialized. Bench/Verify do this between queries; other
   * callers own the same contract (otherwise caches accumulate until LRU
   * eviction).
   */
  private[graft] val trackedCaches = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  def trackCache(df: DataFrame): DataFrame = {
    df.cache()
    trackedCaches.add(df)
    df
  }

  /** Unpersist every cache registered by [[trackCache]] since the last
    * call. Safe to call while other queries run — only graft-internal
    * caches are dropped (never `spark.catalog.clearCache()`, which would
    * nuke caller-owned caches too). */
  def unpersistTrackedCaches(): Unit = {
    var df = trackedCaches.poll()
    while (df != null) { df.unpersist(blocking = false); df = trackedCaches.poll() }
  }

  /**
   * Driver-side row-count UPPER BOUND for a DataFrame, without running a
   * Spark job — the at-scale guards' short-circuit (round-12, VERDICT r11
   * #2): every brute-force/occupancy/output-budget guard used to pay an
   * eager `count()` or a full aggregation at EVERY scale, including the
   * scales where the budget can't possibly bind (~0.3-0.5 s per guarded
   * query at sf0.1). A provably-sound upper bound that is cheap to read
   * lets a guard PASS without any job; it is never used to refuse
   * (an upper bound over-counts filtered scans, so refusal always falls
   * back to the exact count).
   *
   * Sound because the walk only descends through row-NONINCREASING
   * operators (project/filter/limit/sort/dedup/repartition/hint, and
   * sample only WITHOUT replacement — with-replacement sampling is
   * Poisson-based and can emit MORE rows than the child at any fraction)
   * down to a leaf whose count is driver-readable: parquet footer record
   * counts (the same metadata a `count()` aggregate pushdown would read,
   * but without launching a job) or a LocalRelation's literal rows.
   * Joins, generates (explode), unions, aggregates → None: they can grow
   * rows. Footer reads are memoized by (path, length, modTime) so a
   * bench's repeated samples pay the ~1 ms/file open exactly once.
   */
  private val footerCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Long]()

  def cheapRowCountUpperBound(df: DataFrame): Option[Long] =
    cheapRowCountUpperBoundPlan(df.queryExecution.analyzed, df.sparkSession)

  /**
   * Driver-side EXACT row count from parquet footers, without a job —
   * Some(n) only when the plan provably preserves the scan's row count:
   * the walk descends ONLY row-PRESERVING operators (project/alias/sort/
   * repartition/hint — each emits exactly one row per input row) down to
   * a bare parquet relation (footer record counts are exact metadata) or
   * a LocalRelation. Any filter, limit, sample, dedup, aggregate, join,
   * or generate → None → the caller runs the real `count()`. Used by the
   * auto-sized LSH faces (r17 opt, guide §6): their `n = df.count()`
   * sizing job is a full scan that this replaces with a footer read when
   * the input is the bare corpus table — the common case.
   */
  def exactRowCountFromFooter(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def walk(p: LogicalPlan): Option[Long] = p match {
      // Project is row-preserving by construction (unlike Generate);
      // renames and computed columns cannot change the row count
      case n: Project                 => walk(n.child)
      case n: SubqueryAlias           => walk(n.child)
      case n: Sort                    => walk(n.child)
      case n: Repartition             => walk(n.child)
      case n: RepartitionByExpression => walk(n.child)
      case n: ResolvedHint            => walk(n.child)
      case n: LocalRelation           => Some(n.data.size.toLong)
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => footerParquetCount(fs, df.sparkSession)
        case _                    => None
      }
      case _ => None
    }
    walk(df.queryExecution.analyzed)
  }

  /** The sizing-count convention for eager occupancy/width decisions:
    * [[exactRowCountFromFooter]] when it proves itself, else the real
    * `count()` job. EXACT either way — callers' threshold comparisons
    * and width ladders decide identically; only the job is saved. */
  def sizingCount(df: DataFrame): Long =
    exactRowCountFromFooter(df).getOrElse(df.count())

  /** Sum of parquet footer record counts for a file relation (exact
    * metadata), memoized like [[cheapRowCountUpperBound]]'s leaf. */
  private def footerParquetCount(
      rel: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
      spark: org.apache.spark.sql.SparkSession): Option[Long] = {
    import scala.util.control.NonFatal
    if (!rel.fileFormat.getClass.getSimpleName.startsWith("ParquetFileFormat"))
      return None
    val conf = spark.sessionState.newHadoopConf()
    try {
      var total = 0L
      rel.location.inputFiles.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        val key = (f, st.getLen, st.getModificationTime)
        total += footerCounts.computeIfAbsent(key, _ => {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
          try r.getRecordCount finally r.close()
        })
      }
      Some(total)
    } catch { case NonFatal(_) => None }
  }

  private[graft] def cheapRowCountUpperBoundPlan(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      spark: org.apache.spark.sql.SparkSession): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def limitBound(limitExpr: org.apache.spark.sql.catalyst.expressions.Expression,
        child: LogicalPlan): Option[Long] = limitExpr match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) =>
        Some(math.min(v.toLong, walk(child).getOrElse(Long.MaxValue)))
      case _ => walk(child)
    }
    def walk(p: LogicalPlan): Option[Long] = p match {
      case n: Project                 => walk(n.child)
      case n: Filter                  => walk(n.child)
      case n: SubqueryAlias           => walk(n.child)
      case n: Sort                    => walk(n.child)
      // a limit node caps rows at the literal limit even when the child's
      // bound is unknown or huge (e.g. df.limit(5) over a 100 TB scan as a
      // knnJoin query side): min(limit, child bound) is still sound and
      // keeps the guard from falling back to an exact count needlessly
      case n: GlobalLimit             => limitBound(n.limitExpr, n.child)
      // LocalLimit caps rows per PARTITION, not globally: its literal is
      // a total-row bound only under the GlobalLimit the analyzer pairs
      // it with (the case above, whose min() then walks through here); a
      // bare LocalLimit contributes nothing, or the guard could
      // understate a multi-partition plan's rows (ADVICE r14)
      case n: LocalLimit              => walk(n.child)
      case n: Repartition             => walk(n.child)
      case n: RepartitionByExpression => walk(n.child)
      case n: Deduplicate             => walk(n.child)
      // with-replacement sampling (PoissonSampler) draws a Poisson(fraction)
      // replication count per input row, so the output can exceed the child
      // row count at ANY fraction — not just fraction > 1. Every
      // withReplacement=true shape must return None.
      case n: Sample if !n.withReplacement => walk(n.child)
      case n: ResolvedHint            => walk(n.child)
      // a GROUPED aggregate emits at most one row per input row (one per
      // group, groups <= rows) — row-nonincreasing, so the child bound
      // holds. A GLOBAL aggregate (no grouping) emits exactly ONE row
      // even over empty input, so it can exceed a zero child bound:
      // max(child, 1) stays sound (r16 opt — lets guards bound reduced
      // tables like distinct-value histograms without a job).
      case n: Aggregate =>
        if (n.groupingExpressions.nonEmpty) walk(n.child)
        else walk(n.child).map(b => math.max(b, 1L))
      case n: LocalRelation           => Some(n.data.size.toLong)
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => footerParquetCount(fs, spark)
        case _                    => None
      }
      case _ => None
    }
    walk(plan)
  }

  /** Guard short-circuit predicate: true iff a cheap sound upper bound on
    * `df`'s rows is known AND it is within `bound` — i.e. the guard's
    * budget provably cannot bind, so the eager exact count/aggregation
    * can be skipped. False means "don't know": run the exact check. */
  def cheapCountAtMost(df: DataFrame, bound: Long): Boolean =
    cheapRowCountUpperBound(df).exists(_ <= bound)

  /**
   * Driver-side per-column `max(abs(col))` UPPER BOUND from parquet footer
   * column statistics, without running a Spark job — the column-stats twin
   * of [[cheapRowCountUpperBound]] for overflow guards that only need a
   * sound bound to pick an arithmetic width (e.g. the correlation matrix's
   * long-vs-decimal moment type). Sound for the same reason: the walk only
   * descends row-NONINCREASING operators (a filter can only shrink the
   * value set, so the unfiltered footer max stays an upper bound), and the
   * requested columns must resolve to bare scan attributes (a projection
   * may rename but not compute). Plain numeric physical types only
   * (INT32/INT64/FLOAT/DOUBLE with no rescaling logical annotation);
   * NaN-tainted or absent statistics → None → the caller falls back to the
   * exact aggregation scan.
   */
  private val footerAbsMax =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Map[String, Option[Double]]]()

  def cheapAbsMaxUpperBound(df: DataFrame, cols: Seq[String]): Option[Seq[Double]] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import scala.util.control.NonFatal
    def walk(p: LogicalPlan, names: Seq[String])
        : Option[(HadoopFsRelation, Seq[String])] = p match {
      case n: Filter                  => walk(n.child, names)
      case n: SubqueryAlias           => walk(n.child, names)
      case n: Sort                    => walk(n.child, names)
      case n: GlobalLimit             => walk(n.child, names)
      case n: LocalLimit              => walk(n.child, names)
      case n: Repartition             => walk(n.child, names)
      case n: RepartitionByExpression => walk(n.child, names)
      case n: Deduplicate             => walk(n.child, names)
      case n: Sample if !n.withReplacement => walk(n.child, names)
      case n: ResolvedHint            => walk(n.child, names)
      case n: Project =>
        val mapped = names.map { nm =>
          n.projectList.collectFirst {
            case a: AttributeReference if a.name == nm      => a.name
            case al @ Alias(ar: AttributeReference, _) if al.name == nm => ar.name
          }
        }
        if (mapped.forall(_.isDefined)) walk(n.child, mapped.map(_.get)) else None
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation
          if fs.fileFormat.getClass.getSimpleName.startsWith("ParquetFileFormat") =>
          Some((fs, names))
        case _ => None
      }
      case _ => None
    }
    def fileStats(rel: HadoopFsRelation, f: String): Map[String, Option[Double]] = {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      footerAbsMax.computeIfAbsent((f, st.getLen, st.getModificationTime), _ => {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try {
          import scala.jdk.CollectionConverters._
          import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
          val perCol = scala.collection.mutable.Map.empty[String, Option[Double]]
          r.getFooter.getBlocks.asScala.foreach { block =>
            block.getColumns.asScala.foreach { cc =>
              if (cc.getPath.size() == 1) {
                val name = cc.getPath.toDotString
                val pt = cc.getPrimitiveType
                val plainNumeric =
                  Set(INT32, INT64, FLOAT, DOUBLE).contains(pt.getPrimitiveTypeName) &&
                    (pt.getLogicalTypeAnnotation == null ||
                      pt.getLogicalTypeAnnotation.isInstanceOf[
                        org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation])
                val stats = cc.getStatistics
                val chunk: Option[Double] =
                  if (!plainNumeric || stats == null) None
                  else if (!stats.hasNonNullValue) {
                    // all-null chunk contributes nothing — but only when the
                    // null count proves it (an unset-stats chunk is unknown)
                    if (stats.isNumNullsSet && stats.getNumNulls == block.getRowCount) Some(0.0)
                    else None
                  } else {
                    val mn = stats.genericGetMin.asInstanceOf[Number].doubleValue()
                    val mx = stats.genericGetMax.asInstanceOf[Number].doubleValue()
                    if (mn.isNaN || mx.isNaN) None
                    else Some(math.max(math.abs(mn), math.abs(mx)))
                  }
                perCol(name) = (perCol.get(name), chunk) match {
                  case (Some(Some(a)), Some(b)) => Some(math.max(a, b))
                  case (None, c)                => c
                  case _                        => None // any unknown chunk taints the column
                }
              }
            }
          }
          perCol.toMap
        } finally r.close()
      })
    }
    try walk(df.queryExecution.analyzed, cols).flatMap { case (rel, names) =>
      val files = rel.location.inputFiles
      val perFile = files.map(f => fileStats(rel, f))
      val bounds = names.map { nm =>
        val per = perFile.map(_.getOrElse(nm, None))
        if (files.isEmpty) Some(0.0)
        else if (per.forall(_.isDefined)) Some(per.map(_.get).max)
        else None
      }
      if (bounds.forall(_.isDefined)) Some(bounds.map(_.get)) else None
    } catch { case NonFatal(_) => None }
  }

  /**
   * Distributed cumulative sum — `sum(sumCol) OVER (ORDER BY ordCol)`
   * without the single-task global window (r16 opt, guide §2.4): a
   * global-ORDER-BY window moves EVERY row to one partition, which is
   * the classic scale killer for exact rank/cumulative operators whose
   * input is "reduced but still large" (a distinct-values table). Shape:
   * range-partition by `ordCol` (equal keys land in one partition, so
   * RANGE-frame tie semantics survive), cumulative-sum WITHIN each
   * partition in parallel, then add each partition's exclusive prefix
   * offset — computed from the per-partition totals, a
   * numShufflePartitions-row table whose own window is trivially
   * bounded. One extra (tiny) aggregation versus the naive window; the
   * big table is shuffled once either way, but the cumsum itself runs
   * on every core instead of one. Exact for any input: ties share a
   * partition, and the RANGE frame within the partition matches the
   * global window's peer handling.
   */
  /** The cumsum single-task cutover knob, parsed with a message that
    * names the env var (ADVICE r16 — a bare .toLong threw an anonymous
    * NumberFormatException at plan-construction time). */
  private def cumSumSingleTaskMax(): Long = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CUMSUM_SINGLE_TASK_MAX",
      "16000000")
    try raw.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"SPARK_GRAFT_CUMSUM_SINGLE_TASK_MAX must be a long, got: '$raw'")
    }
  }

  def globalCumSum(df: DataFrame, ordCol: String, sumCol: String,
      outCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val reserved = Seq("__pid", "__pt", "__off")
    val clashes = df.columns.filter(reserved.contains).distinct
    require(clashes.isEmpty,
      s"globalCumSum reserves column names ${reserved.mkString(", ")}; " +
        s"rename input column(s) ${clashes.mkString(", ")}")
    require(!reserved.contains(outCol),
      s"globalCumSum reserves column names ${reserved.mkString(", ")}; " +
        s"outCol=$outCol would be clobbered before the drop (ADVICE r16)")
    // Scale-adaptive strategy (round-16 rule: derive from input size, not
    // a constant tuned for one deployment): when a SOUND upper bound
    // proves the input small enough for one task (footer row counts
    // walked through the reduced plan — grouped aggregates are
    // row-nonincreasing), the plain global window is cheaper than the
    // distributed machinery's extra exchanges (+0.3 s at sf0.1,
    // measured); past the bound — or when no bound is provable — the
    // distributed path removes the single-task scale killer. The
    // threshold is env-tunable for cluster profiles.
    // Default measured at the 1000x probe (5 M rows): the plain window
    // still wins there (q34 4.48 s vs 6.53 s distributed — the sort is
    // parallel up front and the window scan is linear), so the cutover
    // sits above any locally-testable size; 16 M rows/task is where the
    // single-task sort+scan reaches minutes and memory pressure starts.
    val singleTaskMax = cumSumSingleTaskMax()
    if (cheapCountAtMost(df, singleTaskMax)) {
      import org.apache.spark.sql.expressions.Window
      return df.withColumn(outCol,
        sum(col(sumCol)).over(Window.orderBy(col(ordCol))))
    }
    val n = math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
    // CACHED, not just shared: __pid is physical-layout-dependent, and
    // the cumsum branch and the totals branch would otherwise evaluate
    // spark_partition_id() under DIFFERENT AQE-coalesced layouts of the
    // range exchange — mismatched pids turn the offset join into silent
    // row loss. The cache freezes one layout that both branches read.
    // Deliberate cost at activation scale (ADVICE r16): this
    // materializes the >16 M-row input once at MEMORY_AND_DISK (spills,
    // never OOMs); a layout-independent partition index would need
    // driver-computed range boundaries — a second full pass over the
    // data — so the freeze cache is the cheaper of the two exact
    // options.
    val ranged = trackCache(df.repartitionByRange(n, col(ordCol))
      .withColumn("__pid", spark_partition_id()))
    val local = ranged.withColumn(outCol,
      sum(col(sumCol)).over(Window.partitionBy(col("__pid"))
        .orderBy(col(ordCol))))
    // per-partition totals: numShufflePartitions rows — the ONLY
    // single-partition window runs over this bounded table
    val totals = ranged.groupBy(col("__pid"))
      .agg(sum(col(sumCol)).as("__pt"))
    val offsets = totals.select(col("__pid"),
      sum(col("__pt")).over(Window.orderBy(col("__pid"))
        .rowsBetween(Window.unboundedPreceding, -1)).as("__off"))
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn(outCol, col(outCol) + coalesce(col("__off"), lit(0L)))
      .drop("__pid", "__off")
  }

  /**
   * [[globalCumSum]] for PER-GROUP cumulative sums —
   * `sum(sumCol) OVER (PARTITION BY partCol ORDER BY ordCol ROWS
   * UNBOUNDED PRECEDING..CURRENT ROW)` without one-task-per-group
   * (r16 opt, guide §2.4): a per-group window moves each group's ENTIRE
   * row set to one task, and for low-cardinality groups (languages,
   * sources) that is the same single-task scale killer with a skew
   * flavor — a 100 TB corpus packed per language runs on |languages|
   * cores. Shape: range-partition by (partCol, ordCol) so each group
   * occupies a contiguous run of partitions, windows run WITHIN
   * (group, partition) in parallel, then each (group, partition) adds
   * its group's exclusive prefix offset from a bounded totals table
   * (≤ numShufflePartitions + |groups| rows). Exact when (partCol,
   * ordCol) is duplicate-free — the same precondition under which the
   * plain ROWS-frame window is deterministic at all (with duplicate
   * keys BOTH forms return an engine-chosen peer order).
   */
  def groupedCumSum(df: DataFrame, partCol: String, ordCol: String,
      sumCol: String, outCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val reserved = Seq("__pid", "__pt", "__off")
    val clashes = df.columns.filter(reserved.contains).distinct
    require(clashes.isEmpty,
      s"groupedCumSum reserves column names ${reserved.mkString(", ")}; " +
        s"rename input column(s) ${clashes.mkString(", ")}")
    require(!reserved.contains(outCol),
      s"groupedCumSum reserves column names ${reserved.mkString(", ")}; " +
        s"outCol=$outCol would be clobbered before the drop (ADVICE r16)")
    val frame: Window.type => org.apache.spark.sql.expressions.WindowSpec =
      w => w.partitionBy(col(partCol)).orderBy(col(ordCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same scale-adaptive rule + env knob as globalCumSum: provably-small
    // inputs keep the plain window (cheaper locally, measured there)
    // Default measured at the 1000x probe (5 M rows): the plain window
    // still wins there (q34 4.48 s vs 6.53 s distributed — the sort is
    // parallel up front and the window scan is linear), so the cutover
    // sits above any locally-testable size; 16 M rows/task is where the
    // single-task sort+scan reaches minutes and memory pressure starts.
    val singleTaskMax = cumSumSingleTaskMax()
    if (cheapCountAtMost(df, singleTaskMax)) {
      return df.withColumn(outCol, sum(col(sumCol)).over(frame(Window)))
    }
    val n = math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
    // cached for the same layout-freeze reason as globalCumSum (__pid is
    // physical; both branches must read ONE layout)
    val ranged = trackCache(
      df.repartitionByRange(n, col(partCol), col(ordCol))
        .withColumn("__pid", spark_partition_id()))
    val local = ranged.withColumn(outCol,
      sum(col(sumCol)).over(Window.partitionBy(col(partCol), col("__pid"))
        .orderBy(col(ordCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // (group, partition) totals: each group spans a contiguous pid run,
    // so this table is bounded by numShufflePartitions + |groups| rows;
    // its per-group running window is trivially small
    val totals = ranged.groupBy(col(partCol), col("__pid"))
      .agg(sum(col(sumCol)).as("__pt"))
    val offsets = totals.select(col(partCol), col("__pid"),
      sum(col("__pt")).over(Window.partitionBy(col(partCol))
        .orderBy(col("__pid"))
        .rowsBetween(Window.unboundedPreceding, -1)).as("__off"))
    local.join(broadcast(offsets), Seq(partCol, "__pid"))
      .withColumn(outCol, col(outCol) + coalesce(col("__off"), lit(0L)))
      // the (partCol, __pid) join keys lead the join output; restore the
      // input column order + appended outCol
      .select((df.columns.map(col) :+ col(outCol)): _*)
  }

  /**
   * Salted equi-join for skewed keys. A hot key concentrates its rows in
   * one shuffle partition; salting scatters the skewed (left) side into
   * `salt` sub-keys and replicates the right side once per salt value, so
   * the hot key's work spreads over `salt` reducers. Results are identical
   * to the plain join for any salt assignment — the salt only routes rows.
   *
   * AQE's skew-join split handles most cases automatically (and is the
   * first resort); explicit salting remains the tool when a single key
   * exceeds what partition-splitting can balance (e.g. skewed *build*
   * sides, or aggregations after the join keyed on the same column).
   *
   * Join types (the left side is always the scattered/skewed one):
   *   - "inner"/"left": scatter left, replicate right.
   *   - "right": the mirror — replicate left, scatter right (each right
   *     row exists once, so unmatched right rows surface exactly once).
   *   - "full": salted left-outer (all left rows + matches), then the
   *     right-only remainder appended null-padded via an anti-join on the
   *     plain key. The anti-join never multiplies rows, so a hot key on
   *     the probe side degrades gracefully rather than exploding.
   */
  def saltedJoin(leftDf: DataFrame, rightDf: DataFrame,
      leftKey: String, rightKey: String,
      salt: Int, joinType: String = "inner"): DataFrame = {
    def scatter(df: DataFrame): DataFrame = df.withColumn("__salt",
      pmod(xxhash64(struct(df.columns.toSeq.map(col(_)): _*)), lit(salt)).cast("int"))
    def replicate(df: DataFrame): DataFrame = df.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    def salted(l: DataFrame, r: DataFrame, jt: String): DataFrame =
      l.join(r, l(leftKey) === r(rightKey) && l("__salt") === r("__salt"), jt)
        .drop("__salt")
    joinType match {
      case "inner" | "left" | "left_outer" =>
        salted(scatter(leftDf), replicate(rightDf), joinType)
      case "right" | "right_outer" =>
        salted(replicate(leftDf), scatter(rightDf), "right")
      case "full" | "full_outer" | "outer" =>
        val leftPart = salted(scatter(leftDf), replicate(rightDf), "left")
        val rightOnly = rightDf
          .join(leftDf.select(col(leftKey).as("__lk")),
            rightDf(rightKey) === col("__lk"), "left_anti")
          .select(leftDf.schema.map(f =>
            lit(null).cast(f.dataType).as(f.name)) ++
            rightDf.columns.map(col(_)): _*)
        leftPart.unionByName(rightOnly)
      case other => throw new IllegalArgumentException(
        s"saltedJoin supports inner/left/right/full, got '$other'")
    }
  }

  /**
   * Runtime-filter (Bloom-pruned) inner join: build a Bloom filter over
   * the small side's join keys, pre-filter the big side with it as a
   * NARROW per-row predicate, then run the equi-join. The join itself
   * removes Bloom false positives, so the result is EXACTLY the plain
   * join (which is what the oracle runs) — but the big side's shuffle
   * carries only rows that might match. At 100 TB this is the semi-join
   * reduction every engine wants when a selective dimension filter
   * leaves most fact rows partner-less: the filter rides the plan as a
   * literal word array (the q44 sketch-shipping pattern — ~16 KB for
   * 2^20 bits, zero extra joins, zero extra shuffles) and prunes BEFORE
   * the Exchange, where pruning pays.
   */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String, mBits: Int = 1 << 20,
      k: Int = 5): DataFrame = {
    // portable=false: the filter is a pure runtime artifact (the join
    // erases its false positives), so the fast codegen'd hash wins —
    // the md5-based portable path costs ~10 md5s per probed row
    val words = graft.operators.Sketches.bloomArray(small, smallKey, mBits,
      k, portable = false)
    big.where(graft.operators.Sketches.bloomMightContain(
        col(bigKey), words, mBits, k, portable = false))
      .join(small, col(bigKey) === col(smallKey))
  }
}
