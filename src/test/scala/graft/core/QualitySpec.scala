package graft.core

import graft.SparkSpec

/** A2–A5 + C2/C3 semantics: per-rule double-counting, the +1e-9 epsilon,
  * total=0 ⇒ pass, missing-column tolerance, gate thresholds
  * (reference /root/reference/flows/pipeline.py:51-108,235-261).
  */
class QualitySpec extends SparkSpec {
  import spark.implicits._

  private val full = Seq(
    // (timestamp, transaction_type, amount, receiving_address, location_region, risk_score)
    (Some("2024-01-01"), Some("sale"), Some(10.0), Some("a"), Some("eu"), Some(0.5)),
    (None, Some("sale"), Some(-5.0), Some("b"), None, Some(0.1)), // null ts AND negative: 2 fails
    (Some("2024-01-03"), None, None, None, Some("us"), None)      // null type AND null amount: 2 fails
  ).toDF("timestamp", "transaction_type", "amount",
    "receiving_address", "location_region", "risk_score")

  test("profile counts nulls per column and rule violations with double-counting") {
    // the repartitioned input merges partial counts across partitions
    for (df <- Seq(full, full.repartition(3))) {
      val m = Quality.profile(df, "t")
      assert(m.totalRows == 3)
      assert(m.nulls == Map(
        "timestamp" -> 1L, "transaction_type" -> 1L, "amount" -> 1L,
        "receiving_address" -> 1L, "location_region" -> 1L, "risk_score" -> 1L))
      assert(m.ruleViolations == Map(
        "timestamp_not_null" -> 1L, "transaction_type_not_null" -> 1L,
        "amount_not_null" -> 1L, "amount_non_negative" -> 1L))
      // a row breaking k rules counts k times: 4 fails over 3 rows
      assert(m.failedRowsEstimate == 4)
      assert(math.abs(m.conformityRate - math.max(0.0, 1.0 - 4 / (3 + 1e-9))) < 1e-12)
    }
  }

  test("conformity floors at 0 when fails exceed rows") {
    val m = Quality.profile(full, "t")
    assert(m.conformityRate >= 0.0)
    val allBad = Seq((None: Option[String], None: Option[String], Some(-1.0)))
      .toDF("timestamp", "transaction_type", "amount")
    val m2 = Quality.profile(allBad, "t")
    assert(m2.failedRowsEstimate == 3 && m2.conformityRate == 0.0)
  }

  test("empty input: total=0 ⇒ conformity ≈ 1.0 ⇒ gate passes") {
    val m = Quality.profile(
      Seq.empty[(Option[String], Option[Double])].toDF("timestamp", "amount"), "t")
    assert(m.totalRows == 0)
    assert(m.conformityRate > 0.999999)
    Quality.gate(m, 0.995) // must not throw
  }

  test("missing columns: no rule, no null counter — tolerated like the reference") {
    val m = Quality.profile(Seq(("x", 1.0)).toDF("other", "amount"), "t")
    assert(m.nulls.keySet == Set("amount"))
    assert(m.ruleViolations.keySet == Set("amount_not_null", "amount_non_negative"))
    val none = Quality.profile(Seq(Tuple1("x")).toDF("other"), "t")
    assert(none.ruleViolations.isEmpty && none.conformityRate > 0.999)
  }

  test("amount coerced to numeric before the negativity rule (string amounts)") {
    val m = Quality.profile(
      Seq(("-3", "a"), ("abc", "b"), ("4.5", "c")).toDF("amount", "receiving_address"), "t")
    assert(m.ruleViolations("amount_non_negative") == 1) // only "-3"; "abc"→null, not <0
    // dq_checks coerces BEFORE profiling (pipeline.py:99-101): the
    // unparseable "abc" is an amount null in both the nulls map and the rule
    assert(m.nulls("amount") == 1)
    assert(m.ruleViolations("amount_not_null") == 1)
  }

  test("gate throws below threshold, passes at or above") {
    val m = Quality.profile(full, "t") // conformity = 1 - 4/3 → 0
    intercept[Quality.QualityGateException](Quality.gate(m, 0.98))
    Quality.gate(m, 0.0) // rate 0.0 >= 0.0: no throw
  }

  test("toJson carries phase, counts, rules (null for absent), conformity") {
    val j = Quality.toJson(Quality.profile(Seq(Tuple1(1.0)).toDF("amount"), "pre_clean"))
    assert(j.contains("\"phase\": \"pre_clean\""))
    assert(j.contains("\"timestamp_not_null\": null")) // absent column ⇒ null rule
    assert(j.contains("\"amount_non_negative\": {\"violations\": 0}"))
    assert(j.contains("\"total_rows\": 1"))
  }
}
