package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.config.{LookupConfig, ValidationException}

/**
 * Unit tests for the Lookup operator: the reference's golden fixture
 * (FIXTURES.md §1, reference `LookupTest.java:106-126`) plus one test per
 * edge-case semantic E1-E8 (SURVEY.md §2.1).
 */
class LookupTransformSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def df(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private val customerSchema = StructType(Seq(
    StructField("customer_id", IntegerType, nullable = false),
    StructField("first_name", StringType, nullable = false),
    StructField("last_name", StringType, nullable = false)))

  private val phoneSchema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("customer_id", IntegerType, nullable = false),
    StructField("phone_number", StringType, nullable = false)))

  private def customers = df(customerSchema,
    Row(1, "John", "Doe"), Row(2, "Jane", "Doe"))
  private def phones = df(phoneSchema, Row(1, 1, "555-555-555"))

  private def golden(outputField: Option[String] = Some("phone")) = LookupTransform(
    Map("customers" -> customers, "phone_numbers" -> phones),
    LookupConfig("phone_numbers", "customer_id", "customer_id", "phone_number",
      outputField = outputField))

  test("golden fixture: match enriched, non-match null-padded (LookupTest.java:157-176)") {
    val out = golden().collect().sortBy(_.getInt(0))
    assert(out.length == 2)
    assert(out(0) == Row(1, "John", "Doe", "555-555-555"))
    assert(out(1) == Row(2, "Jane", "Doe", null))
  }

  test("E1/E5: output schema = input fields in order + output field last, forced nullable") {
    val schema = golden().schema
    assert(schema.fieldNames.toSeq == Seq("customer_id", "first_name", "last_name", "phone"))
    assert(schema("phone").dataType == StringType)
    assert(schema("phone").nullable, "output field must be nullable (Lookup.java:456-457)")
  }

  test("E2: duplicate lookup keys multiply rows (true join, not first-match)") {
    val dupPhones = df(phoneSchema, Row(1, 1, "555-555-555"), Row(2, 1, "666-666-666"))
    val out = LookupTransform(
      Map("customers" -> customers, "phone_numbers" -> dupPhones),
      LookupConfig("phone_numbers", "customer_id", "customer_id", "phone_number",
        outputField = Some("phone"))).collect()
    assert(out.length == 3, "customer 1 duplicated, customer 2 null-padded")
    assert(out.count(_.getInt(0) == 1) == 2)
  }

  test("E3: NULL keys never match on either side") {
    val inSchema = StructType(Seq(
      StructField("k", IntegerType, nullable = true),
      StructField("v", StringType, nullable = false)))
    val lkSchema = StructType(Seq(
      StructField("k", IntegerType, nullable = true),
      StructField("lv", StringType, nullable = false)))
    val in = df(inSchema, Row(null, "a"), Row(1, "b"))
    val lk = df(lkSchema, Row(null, "NULL-MATCH"), Row(1, "ONE"))
    val out = LookupTransform(Map("in" -> in, "lk" -> lk),
      LookupConfig("lk", "k", "k", "lv", outputField = Some("looked")))
      .collect().sortBy(r => Option(r.get(1)).map(_.toString).getOrElse(""))
    assert(out.length == 2)
    val nullRow = out.find(_.getString(1) == "a").get
    assert(nullRow.get(2) == null, "NULL key must not match NULL key (=== not <=>)")
    assert(out.find(_.getString(1) == "b").get.getString(2) == "ONE")
  }

  test("E4: outputField defaults to lookupValueField when absent") {
    assert(golden(None).schema.fieldNames.last == "phone_number")
    assert(golden(Some("")).schema.fieldNames.last == "phone_number")
  }

  test("E6: output-name collision is a validation error, not silent shadowing") {
    val ex = intercept[ValidationException] {
      LookupTransform(
        Map("customers" -> customers, "phone_numbers" -> phones),
        LookupConfig("phone_numbers", "customer_id", "customer_id", "phone_number",
          outputField = Some("first_name")))
    }
    assert(ex.failures.exists(_.property.contains("outputField")))
  }

  test("E7: <2 and >2 inputs produce distinct errors") {
    val few = intercept[ValidationException] {
      LookupTransform(Map("customers" -> customers),
        LookupConfig("phone_numbers", "customer_id", "customer_id", "phone_number"))
    }
    assert(few.failures.exists(_.correctiveAction.exists(_.contains("requires"))))
    val many = intercept[ValidationException] {
      LookupTransform(
        Map("a" -> customers, "b" -> phones, "c" -> customers),
        LookupConfig("b", "customer_id", "customer_id", "phone_number"))
    }
    assert(many.failures.exists(_.correctiveAction.exists(_.contains("Remove extra"))))
  }

  test("E8: compatible (widening) key types join; incompatible types fail validation") {
    val longCustomers = df(
      StructType(Seq(StructField("customer_id", LongType, nullable = false),
        StructField("name", StringType, nullable = false))),
      Row(1L, "John"))
    // int lookup key vs long input key: compatible, joins fine
    val out = LookupTransform(Map("c" -> longCustomers, "p" -> phones),
      LookupConfig("p", "customer_id", "customer_id", "phone_number",
        outputField = Some("phone"))).collect()
    assert(out.head.getString(2) == "555-555-555")
    // string vs int: incompatible → validation failure
    val strCustomers = df(
      StructType(Seq(StructField("customer_id", StringType, nullable = false),
        StructField("name", StringType, nullable = false))),
      Row("1", "John"))
    val ex = intercept[ValidationException] {
      LookupTransform(Map("c" -> strCustomers, "p" -> phones),
        LookupConfig("p", "customer_id", "customer_id", "phone_number",
          outputField = Some("phone")))
    }
    assert(ex.failures.exists(_.message.contains("not compatible")))
  }

  test("validation accumulates multiple failures before throwing") {
    val ex = intercept[ValidationException] {
      LookupTransform(
        Map("customers" -> customers, "phone_numbers" -> phones),
        LookupConfig("phone_numbers", "nope_key", "nope_lk", "nope_value",
          outputField = Some("first_name")))
    }
    assert(ex.failures.length >= 4, s"expected >=4 accumulated failures, got: ${ex.failures}")
  }

  test("missing lookup dataset fails cleanly (reference NPEs here)") {
    val ex = intercept[ValidationException] {
      LookupTransform(
        Map("customers" -> customers, "phone_numbers" -> phones),
        LookupConfig("no_such_stage", "customer_id", "customer_id", "phone_number"))
    }
    assert(ex.failures.exists(_.property.contains("lookupDataset")))
  }

  test("extension: defaultValue fills unmatched rows") {
    val out = LookupTransform(
      Map("customers" -> customers, "phone_numbers" -> phones),
      LookupConfig("phone_numbers", "customer_id", "customer_id", "phone_number",
        outputField = Some("phone"), defaultValue = Some("NONE")))
      .collect().sortBy(_.getInt(0))
    assert(out(0).getString(3) == "555-555-555")
    assert(out(1).getString(3) == "NONE")
  }

  test("output schema assertion accepts the true schema and rejects a wrong one") {
    val okJson =
      """{"type":"record","name":"out","fields":[
        |{"name":"customer_id","type":"int"},
        |{"name":"first_name","type":"string"},
        |{"name":"last_name","type":"string"},
        |{"name":"phone","type":["string","null"]}]}""".stripMargin
    val ok = LookupTransform(
      Map("customers" -> customers, "phone_numbers" -> phones),
      LookupConfig("phone_numbers", "customer_id", "customer_id", "phone_number",
        outputField = Some("phone"), outputSchemaJson = Some(okJson)))
    assert(ok.count() == 2)
    val badJson = okJson.replace("\"phone\"", "\"phoneX\"")
    val ex = intercept[ValidationException] {
      LookupTransform(
        Map("customers" -> customers, "phone_numbers" -> phones),
        LookupConfig("phone_numbers", "customer_id", "customer_id", "phone_number",
          outputField = Some("phone"), outputSchemaJson = Some(badJson)))
    }
    assert(ex.failures.exists(_.property.contains("schema")))
  }

  test("big lookup side skips broadcast (scale guard) but keeps identical semantics") {
    spark.conf.set(LookupTransform.BroadcastThresholdKey, "1")
    try {
      val out = golden().collect().sortBy(_.getInt(0))
      assert(out(0) == Row(1, "John", "Doe", "555-555-555"))
      assert(out(1) == Row(2, "Jane", "Doe", null))
    } finally spark.conf.unset(LookupTransform.BroadcastThresholdKey)
  }

  test("a malformed or negative broadcast threshold fails naming the key and value") {
    Seq("256MB", "-1", "").foreach { bad =>
      spark.conf.set(LookupTransform.BroadcastThresholdKey, bad)
      try {
        val ex = intercept[IllegalArgumentException](golden())
        assert(ex.getMessage.contains(LookupTransform.BroadcastThresholdKey))
        assert(ex.getMessage.contains(s"'$bad'"))
      } finally spark.conf.unset(LookupTransform.BroadcastThresholdKey)
    }
  }
}
