package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.config.{FailureCollector, LookupConfig}

/**
 * The Lookup operator: a broadcast LEFT OUTER single-key equi-join that
 * appends exactly one aliased column of the lookup dataset to every input
 * row (reference `Lookup.java:59-64,186-257`; `docs/Lookup-batchjoiner.md:5-7`).
 *
 * Semantics pinned to the reference (SURVEY.md §2.1 E1-E8):
 *   - E1 unmatched input rows survive, output field null (left outer;
 *     output field forced nullable — `Lookup.java:456-457`)
 *   - E2 duplicate lookup keys multiply rows (true join, never a
 *     first-match map — `Lookup.java:219-231`)
 *   - E3 NULL keys never match (`setNullSafe(false)`, `Lookup.java:224`
 *     → `===`, never `<=>`)
 *   - E4 `outputField` defaults to `lookupValueField` (`Lookup.java:390`)
 *   - E5 column order: input fields in input order, output field last
 *     (`Lookup.java:454-458`)
 *   - E6 output-name collision is a validation error (`Lookup.java:515-518`)
 *   - E7 exactly two inputs, distinct errors for <2 / >2 (`Lookup.java:471-480`)
 *   - E8 key types must be *compatible* (widening), not equal
 *     (`Lookup.java:510-513` → `Cast.canUpCast`)
 *
 * 100 TB posture (SURVEY.md §4, §7.4): the reference broadcasts the lookup
 * side unconditionally (`Lookup.java:208`) — safe only when it fits in
 * memory. We broadcast by default (reference parity: lookup sides are
 * dimension-shaped) but only below a size guard
 * (`graft.lookup.broadcastThreshold`, bytes; default 256 MiB of
 * Catalyst-estimated plan stats). Above it we hand the join to Catalyst
 * untouched, so AQE can pick sort-merge / shuffled-hash and apply skew
 * splitting. Either way the lookup side is pre-projected to exactly
 * (key, value) before the join so the broadcast payload / shuffle width
 * never exceeds two columns (`Lookup.java:293,313-315` does the same via
 * its select list).
 */
object LookupTransform {

  val BroadcastThresholdKey = "graft.lookup.broadcastThreshold"
  val DefaultBroadcastThreshold: Long = 256L << 20

  // Internal names; NUL-free but exotic enough not to collide with user data.
  private val KeyCol = "__graft_lookup_key"
  private val ValCol = "__graft_lookup_val"

  /**
   * Validate config against the named inputs and run the join.
   *
   * @param inputs map of stage name → DataFrame; exactly two entries, one of
   *               which must be `cfg.lookupDataset`
   *               (reference `Lookup.java:464-480`)
   */
  def apply(inputs: Map[String, DataFrame], cfg: LookupConfig): DataFrame = {
    val collector = new FailureCollector
    cfg.validateRequired(collector)
    collector.getOrThrow()

    // Macro deferral ends at execution: design-time validation skips
    // macro'd properties (reference `Lookup.java:412-427,468-470`), but a
    // join cannot be planned against a placeholder — the reference's
    // platform substitutes runtime arguments before `define` ever runs
    // with concrete values (`Lookup.java:193-195`). An unresolved macro
    // here means the runner forgot `resolveMacros`.
    if (cfg.containsMacros) {
      cfg.unresolvedMacros.foreach { case (prop, names) =>
        collector.addFailure(
          s"Property '$prop' contains unresolved macros: ${names.map("${" + _ + "}").mkString(", ")}.",
          "Call resolveMacros with bindings for these variables before executing the lookup.",
          prop)
      }
      collector.getOrThrow()
    }

    // E7 — exactly two inputs, distinct messages (Lookup.java:471-480).
    if (inputs.size < 2)
      collector.addFailure(
        s"Expected 2 inputs but found ${inputs.size}.",
        "The lookup transform requires an input dataset and a lookup dataset.")
    else if (inputs.size > 2)
      collector.addFailure(
        s"Expected 2 inputs but found ${inputs.size}.",
        "Remove extra inputs; the lookup transform joins exactly one input dataset with one lookup dataset.")
    collector.getOrThrow()

    // Lookup dataset must be one of the inputs (Lookup.java:485-489).
    if (!inputs.contains(cfg.lookupDataset)) {
      collector.addFailure(
        s"Lookup dataset '${cfg.lookupDataset}' is not an input.",
        s"Set 'lookupDataset' to one of: ${inputs.keys.toSeq.sorted.mkString(", ")}.",
        "lookupDataset")
      collector.getOrThrow() // fail cleanly — the reference NPEs here (SURVEY.md §2.1 quirks)
    }

    val lookup = inputs(cfg.lookupDataset)
    // Reference finds the non-lookup input by last-one-wins iteration
    // (Lookup.java:449-453); with exactly two inputs there is one candidate.
    val (inputName, input) = inputs.view.filterKeys(_ != cfg.lookupDataset).head

    validateFields(input, inputName, lookup, cfg, collector)
    collector.getOrThrow()

    val result = join(input, lookup, cfg)
    cfg.outputSchema.foreach(assertSchema(result, _, collector))
    collector.getOrThrow()
    result
  }

  /** Field-level checks (reference `Lookup.java:490-518`), all accumulated. */
  private def validateFields(input: DataFrame, inputName: String,
      lookup: DataFrame, cfg: LookupConfig, collector: FailureCollector): Unit = {
    val lookupFields = lookup.schema.fieldNames.toSet
    val inputFields = input.schema.fieldNames.toSet

    if (!lookupFields.contains(cfg.lookupKeyField))
      collector.addFailure(
        s"Lookup key field '${cfg.lookupKeyField}' does not exist in lookup dataset '${cfg.lookupDataset}'.",
        property = "lookupKeyField")
    if (!lookupFields.contains(cfg.lookupValueField))
      collector.addFailure(
        s"Lookup value field '${cfg.lookupValueField}' does not exist in lookup dataset '${cfg.lookupDataset}'.",
        property = "lookupValueField")
    if (!inputFields.contains(cfg.inputKeyField))
      collector.addFailure(
        s"Input key field '${cfg.inputKeyField}' does not exist in input dataset '$inputName'.",
        property = "inputKeyField")

    // E8 — key-type compatibility is a widening relation, not equality
    // (Lookup.java:510-513 uses Schema#isCompatible; we use Cast.canUpCast
    // in either direction, SURVEY.md §1.3).
    for {
      ik <- input.schema.find(_.name == cfg.inputKeyField)
      lk <- lookup.schema.find(_.name == cfg.lookupKeyField)
    } if (!compatibleKeys(ik.dataType, lk.dataType))
      collector.addFailure(
        s"Input key field '${cfg.inputKeyField}' of type ${ik.dataType.simpleString} is not compatible " +
          s"with lookup key field '${cfg.lookupKeyField}' of type ${lk.dataType.simpleString}.",
        property = "inputKeyField")

    // E6 — output-name collision (Lookup.java:515-518).
    if (inputFields.contains(cfg.resolvedOutputField))
      collector.addFailure(
        s"Output field '${cfg.resolvedOutputField}' already exists in input dataset '$inputName'.",
        "Set 'outputField' to a name not present in the input dataset.",
        "outputField")
  }

  /**
   * CDAP's `Schema#isCompatible` is numeric-style promotion (int→long→
   * float→double etc.), NOT "anything prints as a string" — so we take
   * Spark's `Cast.canUpCast` but exclude its to-string widening, which
   * would let an int key silently join a string key.
   */
  def compatibleKeys(a: DataType, b: DataType): Boolean = {
    def upcast(from: DataType, to: DataType) =
      Cast.canUpCast(from, to) && !(to == org.apache.spark.sql.types.StringType && from != to)
    a == b || upcast(a, b) || upcast(b, a)
  }

  /** A byte count, so negative or malformed values are configuration errors. */
  private def parseThreshold(v: String): Long =
    v.toLongOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
      s"$BroadcastThresholdKey must be a non-negative byte count, got '$v'"))

  /** The join itself — pure DataFrame composition; Catalyst owns planning. */
  private def join(input: DataFrame, lookup: DataFrame, cfg: LookupConfig): DataFrame = {
    val spark = input.sparkSession
    // Pre-project the lookup side to (key, value): shrinks the broadcast /
    // shuffle payload and lets Catalyst prune the lookup scan to two columns.
    val projected = lookup.select(
      col(cfg.lookupKeyField).as(KeyCol),
      col(cfg.lookupValueField).as(ValCol))

    val threshold = spark.conf.getOption(BroadcastThresholdKey)
      .map(parseThreshold).getOrElse(DefaultBroadcastThreshold)
    val estimatedBytes = projected.queryExecution.optimizedPlan.stats.sizeInBytes
    val rhs =
      if (estimatedBytes <= threshold) broadcast(projected)
      else projected // let Catalyst/AQE choose (sort-merge or shuffled hash, skew-aware)

    // E3: `===` (null-safe OFF). E1: left outer.
    val joined = input.join(rhs, input(cfg.inputKeyField) === rhs(KeyCol), "left_outer")

    // E5: input columns in input order, then the (aliased, E4) value last.
    // Extension: defaultValue fills unmatched rows via coalesce.
    val valueCol: Column = cfg.defaultValue match {
      case Some(d) =>
        val valType = projected.schema(ValCol).dataType
        coalesce(joined(ValCol), lit(d).cast(valType))
      case None => joined(ValCol)
    }
    joined.select(input.columns.toSeq.map(input(_)) :+ valueCol.as(cfg.resolvedOutputField): _*)
  }

  /**
   * Output-schema assertion — the reference's explicit `schema` property
   * (`Lookup.java:396,196-201`) exists because CDAP schemas can be unknown
   * at design time; in Spark the join output schema is always known, so a
   * user-provided schema becomes a cross-check (SURVEY.md §1.3).
   * Names must match in order; types must be compatible (same widening
   * relation as keys). Nullability is not asserted: the output field is
   * forced nullable by the left outer join regardless of what the user
   * wrote (reference forces the same, `Lookup.java:456-457`).
   */
  private def assertSchema(result: DataFrame, expected: org.apache.spark.sql.types.StructType,
      collector: FailureCollector): Unit = {
    val actual = result.schema
    if (actual.length != expected.length) {
      collector.addFailure(
        s"Output schema has ${actual.length} fields but the provided schema has ${expected.length}.",
        property = "schema")
    } else {
      actual.fields.zip(expected.fields).foreach { case (a, e) =>
        if (a.name != e.name)
          collector.addFailure(
            s"Output field '${a.name}' does not match provided schema field '${e.name}'.",
            property = "schema")
        else if (!compatibleKeys(a.dataType, e.dataType))
          collector.addFailure(
            s"Output field '${a.name}' of type ${a.dataType.simpleString} is not compatible with " +
              s"provided schema type ${e.dataType.simpleString}.",
            property = "schema")
      }
    }
  }
}
