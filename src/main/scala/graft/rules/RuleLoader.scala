package graft.rules

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Rule config as data: parses a rule.json-shaped document (the
  * reference's runtime config — soa_extractor/rules/rule.json:1-132 /
  * docs/rule.json field names) into a [[RuleSet]], so keyword changes
  * need no recompile (the reference loads it at startup,
  * soa_extractor/run.py:107-122).
  *
  * Recognized shape:
  * {{{
  * { "page_classification":   {"rules": [{"priority", "type",
  *       "contains_any", "fallback"}…]},
  *   "record_classification": {"rules": [{"priority", "match_any",
  *       "output", "output_group", "fallback"}…]},
  *   "transaction_type_rules": [{"name", "priority", "match_any",
  *       "exclude_if_contains", "output", "fallback"}…] }
  * }}}
  * plus `sections[].extraction_rules` (see [[ExtractionSpec]]). Other
  * keys (e.g. `global_field_constraints`, `match_in`) are ignored,
  * mirroring the reference classifiers which only read the fields
  * above. The built-in [[RuleSets]] are loaded from the resource
  * `/graft/rules/plugin_rules.json`.
  */
object RuleLoader {

  private val mapper = new ObjectMapper()

  private def strSeq(n: JsonNode, field: String): Seq[String] = {
    val arr = n.get(field)
    if (arr == null || !arr.isArray) Nil
    else arr.elements().asScala.map(_.asText()).toSeq
  }

  private def int(n: JsonNode, field: String, dflt: Int = 0): Int = {
    val v = n.get(field); if (v == null) dflt else v.asInt(dflt)
  }

  private def str(n: JsonNode, field: String, dflt: String = ""): String = {
    val v = n.get(field); if (v == null) dflt else v.asText(dflt)
  }

  private def bool(n: JsonNode, field: String): Boolean = {
    val v = n.get(field); v != null && v.asBoolean(false)
  }

  private def rulesOf(root: JsonNode, section: String): Seq[JsonNode] = {
    val s = root.get(section)
    if (s == null) Nil
    else {
      val arr = if (s.isArray) s else s.get("rules")
      if (arr == null || !arr.isArray) Nil
      else arr.elements().asScala.toSeq
    }
  }

  def fromJson(json: String, name: String = "loaded",
      headerMode: HeaderMode = PluginHeader,
      othersFallback: Boolean = false): RuleSet = {
    val root = mapper.readTree(json)
    val pageRules = rulesOf(root, "page_classification").map { r =>
      PageRule(int(r, "priority"), str(r, "type", "Ignore"),
        strSeq(r, "contains_any"), bool(r, "fallback"))
    }
    val recordRules = rulesOf(root, "record_classification").map { r =>
      RecordRule(int(r, "priority"), strSeq(r, "match_any"),
        str(r, "output"), str(r, "output_group"), bool(r, "fallback"))
    }
    val txnRules = rulesOf(root, "transaction_type_rules").map { r =>
      TxnTypeRule(str(r, "name"), int(r, "priority"), strSeq(r, "match_any"),
        strSeq(r, "exclude_if_contains"), str(r, "output"),
        bool(r, "fallback"))
    }
    RuleSet(name, headerMode, pageRules, recordRules, txnRules,
      othersFallback, extraction = extractionOf(root))
  }

  /** Parse `sections[].extraction_rules` (docs/rule.json:68-845 shape,
    * machine-usable subset — see [[ExtractionSpec]]). A family without a
    * section gets the built-in plugin set's fields, mirroring the
    * reference classifiers which carry hardcoded extraction when the
    * config is silent.
    */
  private def extractionOf(root: JsonNode): ExtractionSpec = {
    def fieldsOf(section: JsonNode): Map[String, FieldSpec] = {
      val er = section.get("extraction_rules")
      if (er == null || !er.isObject) Map.empty
      else er.fields().asScala.map { e =>
        val r = e.getValue
        e.getKey -> FieldSpec(str(r, "strategy"), str(r, "pattern"),
          int(r, "group"), int(r, "index"), str(r, "key"))
      }.toMap
    }
    val sections = rulesOf(root, "sections")
    // by-name: loading RuleSets.plugin itself must not read it
    def family(f: String, builtIn: => Map[String, FieldSpec]) =
      sections.find(s => str(s, "family") == f).map(fieldsOf)
        .getOrElse(builtIn)
    ExtractionSpec(family("trade", RuleSets.plugin.extraction.trade),
      family("positions", RuleSets.plugin.extraction.positions))
  }

  /** A rule set shipped as a classpath resource. */
  def fromResource(resource: String, name: String,
      headerMode: HeaderMode = PluginHeader,
      othersFallback: Boolean = false): RuleSet = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"missing resource $resource")
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    fromJson(json, name, headerMode, othersFallback)
  }
}
