package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Dictionary-membership predicates (SURVEY.md §2.2 P8; reference:
  * rules/evaluation.py:106-169 — is_us_city/state/zip/county with
  * abbreviation expansion, dot-stripping and case folding).
  *
  * The external service calls of the reference (Wikipedia spell
  * fallback, P9) are deliberately replaced by broadcast dictionary
  * tables — deterministic and network-free (SURVEY.md §7.3). Membership
  * is a broadcast anti-join on the normalized value: at 100 TB the
  * dictionary broadcasts (it is reference data) and the probe side
  * never shuffles.
  */
object Dictionary {

  /** Reference-style place-name abbreviations (st→saint, mt→mount,
    * ft→fort; reference: rules/evaluation.py:51-61). */
  val abbreviations: Seq[(String, String)] = Seq(
    "\\bst\\b" -> "saint", "\\bmt\\b" -> "mount", "\\bft\\b" -> "fort")

  /** Normalization chain: lowercase, strip dots, expand abbreviations,
    * collapse whitespace, trim. Pure regexp_replace — codegen'd. */
  def normalize(c: Column): Column = {
    val lowered = regexp_replace(lower(c.cast(StringType)), "\\.", "")
    val expanded = abbreviations.foldLeft(lowered) { case (acc, (re, repl)) =>
      regexp_replace(acc, re, repl)
    }
    trim(regexp_replace(expanded, "\\s+", " "))
  }

  /** Distinct probe values NOT found in the dictionary after both sides
    * normalize (the rule's error set). */
  def misses(probe: DataFrame, probeCol: String,
      dict: DataFrame, dictCol: String): DataFrame = {
    val d = dict.select(normalize(col(s"`$dictCol`")).as("__dict_v")).distinct()
    probe
      .select(col(s"`$probeCol`").cast(StringType).as("value"),
        normalize(col(s"`$probeCol`")).as("__v"))
      .filter(col("__v") =!= "")
      .join(broadcast(d), col("__v") === col("__dict_v"), "left_anti")
      .select("value").distinct()
  }
}
