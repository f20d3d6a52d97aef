package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Rules, Threshold}
import graft.ops.ErrorRules

/** Rule compiler + config parser per `daily_aggregator.py:70-116` and
  * `config/schwellwerte.json`.
  */
class ErrorRulesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def flagged(rules: Seq[graft.model.EventRule],
      rows: (String, String, Option[Float])*): Seq[Int] = {
    val df = rows.toSeq.toDF("parameter_name", "event_name", "value")
    ErrorRules.flag(df, rules).select("is_error").as[Int].collect().toSeq
  }

  test("error_if_above fires strictly above the limit") {
    val r = Seq(graft.model.EventRule("AS_VacuumUnits", "AS_Check", Threshold.Above(70.0)))
    assert(flagged(r,
      ("AS_VacuumUnits", "AS_Check", Some(70.0f)),
      ("AS_VacuumUnits", "AS_Check", Some(70.1f)),
      ("AS_VacuumUnits", "Pick_Check", Some(99.0f)),   // wrong event
      ("PP_VacuumUnits", "AS_Check", Some(99.0f)),     // wrong param
      ("AS_VacuumUnits", "AS_Check", None)             // null value
    ) == Seq(0, 1, 0, 0, 0))
  }

  test("error_if_below fires strictly below the limit") {
    val r = Seq(graft.model.EventRule("AS_VacuumUnits", "AS_Blowoff_Check", Threshold.Below(450.0)))
    assert(flagged(r,
      ("AS_VacuumUnits", "AS_Blowoff_Check", Some(450.0f)),
      ("AS_VacuumUnits", "AS_Blowoff_Check", Some(449.9f))
    ) == Seq(0, 1))
  }

  test("error_if_outside_range fires outside the closed interval") {
    val r = Seq(graft.model.EventRule("PP_Force", "Pick_Check", Threshold.OutsideRange(60.0, 120.0)))
    assert(flagged(r,
      ("PP_Force", "Pick_Check", Some(60.0f)),
      ("PP_Force", "Pick_Check", Some(59.9f)),
      ("PP_Force", "Pick_Check", Some(120.0f)),
      ("PP_Force", "Pick_Check", Some(120.1f))
    ) == Seq(0, 1, 0, 1))
  }

  test("empty rule set folds to lit(false): all rows clean") {
    assert(flagged(Seq.empty,
      ("PP_Force", "Pick_Check", Some(999.0f))) == Seq(0))
  }

  test("parser skips _-prefixed keys, non-objects, unknown keys and kinds") {
    val json =
      """{
        |  "_comment": "doc",
        |  "AS_VacuumUnits": {"error_if_above": 70.0},
        |  "not_a_known_key": {"error_if_above": 1.0},
        |  "PP_VacuumUnits": "not-an-object",
        |  "PickForce": {"error_if_outside_range": [60.0, 120.0]},
        |  "PlaceForce": {"unknown_kind": 5}
        |}""".stripMargin
    val rules = Rules.parseJson(json)
    assert(rules == Seq(
      graft.model.EventRule("AS_VacuumUnits", "AS_Check", Threshold.Above(70.0)),
      graft.model.EventRule("PP_Force", "Pick_Check", Threshold.OutsideRange(60.0, 120.0))))
  }

  test("reference schwellwerte.json shape parses to the six default rules") {
    val json =
      """{
        |  "AS_VacuumUnits": {"error_if_above": 70.0},
        |  "PP_VacuumUnits": {"error_if_above": 75.0},
        |  "AS_VacuumUnits_Release": {"error_if_below": 450.0},
        |  "PP_VacuumUnits_Release": {"error_if_below": 450.0},
        |  "PickForce": {"error_if_outside_range": [60.0, 120.0]},
        |  "PlaceForce": {"error_if_outside_range": [60.0, 120.0]}
        |}""".stripMargin
    assert(Rules.parseJson(json).toSet == Rules.referenceDefaults.toSet)
  }

  test("parser rejects a non-numeric limit, naming the key and the kind") {
    def rejected(rule: String): String =
      intercept[IllegalArgumentException](Rules.parseJson(s"""{"AS_VacuumUnits": $rule}"""))
        .getMessage
    Seq("""{"error_if_above": "seventy"}""", """{"error_if_above": null}""",
      """{"error_if_above": true}""").foreach { rule =>
      val msg = rejected(rule)
      assert(msg.contains("AS_VacuumUnits") && msg.contains("error_if_above"), msg)
    }
    val range = rejected("""{"error_if_outside_range": [60.0]}""")
    assert(range.contains("AS_VacuumUnits") && range.contains("error_if_outside_range"), range)
    val elem = rejected("""{"error_if_outside_range": [60.0, "high"]}""")
    assert(elem.contains("error_if_outside_range"), elem)
  }

  test("parser reads a numeric string limit as its number") {
    val json =
      """{
        |  "AS_VacuumUnits": {"error_if_above": "70"},
        |  "PickForce": {"error_if_outside_range": ["60", 120.0]}
        |}""".stripMargin
    assert(Rules.parseJson(json) == Seq(
      graft.model.EventRule("AS_VacuumUnits", "AS_Check", Threshold.Above(70.0)),
      graft.model.EventRule("PP_Force", "Pick_Check", Threshold.OutsideRange(60.0, 120.0))))
  }
}
