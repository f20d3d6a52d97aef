package graft.model

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Threshold-rule ADT — the typed form of the reference's JSON rule config
  * (`config/schwellwerte.json:1-26`, interpreted by
  * `src/daily_aggregator.py:89-96`). Exactly three rule kinds exist.
  */
sealed trait Threshold
object Threshold {
  final case class Above(limit: Double)                    extends Threshold
  final case class Below(limit: Double)                    extends Threshold
  final case class OutsideRange(lo: Double, hi: Double)    extends Threshold
}

/** One compiled rule: fires when a row matches (parameter, event) and its
  * value violates the threshold (`daily_aggregator.py:82-101`).
  */
final case class EventRule(paramName: String, eventName: String, threshold: Threshold)

object Rules {

  /** Static config-key -> (parameter_name, event_name) mapping
    * (`daily_aggregator.py:21-28`).
    */
  val parameterEventMapping: Map[String, (String, String)] = Map(
    "AS_VacuumUnits"         -> ("AS_VacuumUnits" -> "AS_Check"),
    "PP_VacuumUnits"         -> ("PP_VacuumUnits" -> "Pick_Check"),
    "AS_VacuumUnits_Release" -> ("AS_VacuumUnits" -> "AS_Blowoff_Check"),
    "PP_VacuumUnits_Release" -> ("PP_VacuumUnits" -> "Place_Check"),
    "PickForce"              -> ("PP_Force"       -> "Pick_Check"),
    "PlaceForce"             -> ("PP_Force"       -> "Place_Check")
  )

  /** The six rules shipped with the reference (`config/schwellwerte.json:2-25`). */
  val referenceDefaults: Seq[EventRule] = Seq(
    EventRule("AS_VacuumUnits", "AS_Check",         Threshold.Above(70.0)),
    EventRule("PP_VacuumUnits", "Pick_Check",       Threshold.Above(75.0)),
    EventRule("AS_VacuumUnits", "AS_Blowoff_Check", Threshold.Below(450.0)),
    EventRule("PP_VacuumUnits", "Place_Check",      Threshold.Below(450.0)),
    EventRule("PP_Force",       "Pick_Check",       Threshold.OutsideRange(60.0, 120.0)),
    EventRule("PP_Force",       "Place_Check",      Threshold.OutsideRange(60.0, 120.0))
  )

  /** Parse a `schwellwerte.json`-shaped config string into rules.
    *
    * Faithful to `daily_aggregator.py:74-98`: keys starting with `_` and
    * non-object values are skipped; within a rule object the kinds are
    * checked in order above / below / outside_range; unknown kinds are
    * skipped; keys with no entry in [[parameterEventMapping]] would have
    * crashed the reference (`.get` on None at `:79`) — we skip them and
    * keep going, a deliberate robustness improvement.
    *
    * A limit is a JSON number or a string that parses as a finite double
    * (the reference's Spark comparison casts such a string too); a range
    * is an array whose first two elements are limits. Anything else —
    * `"seventy"`, `null`, `true`, a one-element range — throws an
    * `IllegalArgumentException` naming the key and the kind, instead of
    * reading as a silent 0.0 limit.
    */
  def parseJson(json: String): Seq[EventRule] = {
    val root: JsonNode = new ObjectMapper().readTree(json)
    if (root == null || !root.isObject) return Seq.empty
    root.properties().asScala.toSeq.flatMap { e =>
      val (key, node) = (e.getKey, e.getValue)
      if (key.startsWith("_") || !node.isObject) None
      else parameterEventMapping.get(key).flatMap { case (param, event) =>
        def limit(kind: String, v: JsonNode): Double = {
          val d =
            if (v.isNumber) Some(v.asDouble())
            else if (v.isTextual) v.asText().trim.toDoubleOption
            else None
          d.filter(_.isFinite).getOrElse(throw new IllegalArgumentException(
            s"rule '$key': $kind must be a finite number or numeric string, got $v"))
        }
        val th: Option[Threshold] =
          if (node.has("error_if_above"))
            Some(Threshold.Above(limit("error_if_above", node.get("error_if_above"))))
          else if (node.has("error_if_below"))
            Some(Threshold.Below(limit("error_if_below", node.get("error_if_below"))))
          else if (node.has("error_if_outside_range")) {
            val kind = "error_if_outside_range"
            val arr = node.get(kind)
            if (!arr.isArray || arr.size() < 2) throw new IllegalArgumentException(
              s"rule '$key': $kind must be an array [lo, hi], got $arr")
            Some(Threshold.OutsideRange(limit(kind, arr.get(0)), limit(kind, arr.get(1))))
          } else None
        th.map(EventRule(param, event, _))
      }
    }
  }

  def loadFile(path: String): Seq[EventRule] =
    parseJson(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))

  /** Reference behavior (`daily_aggregator.py:131-141`): a MISSING config
    * file is tolerated — no rules, all events clean; malformed JSON is
    * fatal and propagates.
    */
  def loadFileOrEmpty(path: String): Seq[EventRule] =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path))) loadFile(path)
    else Seq.empty
}
