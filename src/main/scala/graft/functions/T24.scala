package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The KSQL scalar/array surface the reference's generated pipelines
  * use, re-expressed as compositions of `org.apache.spark.sql.functions`
  * and the native expressions of `graft.plans`, so every call stays
  * inside WholeStageCodegen (no UDFs). This is the one definition of
  * each function: the SQL names in `Engine.functionBuilders` (and so
  * `spark.sql` and `SchemaConverter`) build from it.
  *
  * T24 multivalue encoding (reference `src/controllers/index.js:71-95`):
  * a field holds `1:v1#2:v2#…` — positional markers `N:` (optionally
  * `sN:` for subvalue groups), elements separated by `#`. The
  * reference decodes with
  * `FILTER(REGEXP_SPLIT_TO_ARRAY(x, '(^s?[0-9]+:|#(s?[0-9]+:)?)'), X <> '')`
  * and joins/indexes the resulting array. We mirror those semantics.
  */
object T24 {

  /** Marker pattern that splits a multivalue string into elements. */
  val MvMarker = "(^s?[0-9]+:|#(s?[0-9]+:)?)"
  /** Leading positional marker, stripped before string-join. */
  val MvLead = "^s?[0-9]+:"

  private def nat(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftBridge.column(e)
  private def ex(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftBridge.expression(c)

  /** Decode a multivalue string to its element array (empties dropped).
    * Mirror of reference `controllers/index.js:93` (FILTER∘REGEXP_SPLIT),
    * as the one-scan native `MvMarkerSplit` — the composed regex split
    * Pattern.compiles per row (plans/MvExprs.scala; equivalence
    * property-tested in NativePropertySpec). */
  def mvSplit(c: Column): Column = nat(graft.plans.MvMarkerSplit(ex(c)))

  /** 1-based positional element of a multivalue string (KSQL arrays are
    * 1-based; out-of-range is null, so `try_element_at` — ANSI
    * `element_at` would throw) — reference `controllers/index.js:92-95`. */
  def mvIndex(c: Column, n: Column): Column = try_element_at(mvSplit(c), n)

  /** string-join over a multivalue with a delimiter — reference
    * `controllers/index.js:75-83` (ARRAY_JOIN∘FILTER∘REGEXP_SPLIT with
    * the leading marker stripped first). The delimiter may be any
    * string column, so the native `ArrayJoin` is built directly. */
  def mvJoin(c: Column, delim: Column): Column =
    nat(org.apache.spark.sql.catalyst.expressions.ArrayJoin(ex(mvSplit(c)), ex(delim), None))

  /** SEAB_FIELD(x, delim, n): split by delimiter, take the n-th (1-based)
    * component — reference `controllers/index.js:90-91`. Returns null when
    * the component is absent (KSQL out-of-range array access). */
  def seabField(c: Column, delim: String, n: Column): Column =
    try_element_at(nat(graft.plans.SplitChar(ex(c), delim)), n)

  /** SEAB_HEXTOTEXT(FROM_BYTES(x,'hex')): hex string → UTF-8 text —
    * reference `controllers/index.js:307`. */
  def hexToText(c: Column): Column = decode(unhex(c), "UTF-8")

  /** PARSE_DATE(x [, fmt]) — reference `controllers/index.js:84-85`.
    * Malformed input → null (KSQL never fails the stream on a bad
    * record; ANSI `to_date` would throw). Native try-parse keeps the
    * path inside codegen — see `plans/TryParseTimestamp`. */
  def parseDate(c: Column, fmt: String = "yyyyMMdd"): Column =
    parseTimestamp(c, fmt).cast("date")

  /** PARSE_TIMESTAMP(x [, fmt]) — reference `controllers/index.js:86-87`. */
  def parseTimestamp(c: Column, fmt: String = "yyMMddHHmm"): Column =
    nat(graft.plans.TryParseTimestamp(ex(c), fmt))

  /** The reference's fixed SUBSTRING(x,1,35) truncation transform
    * (`controllers/index.js:88-89`). */
  def substr35(c: Column): Column = substring(c, 1, 35)

  /** INPUTTER_HIS audit-trail transform — reference
    * `controllers/index.js:71`: decode the multivalue, extract the 2nd
    * '_'-component of each element, space-join, scrub "null " artifacts,
    * cap at 4000 chars. */
  def inputterHis(c: Column): Column =
    substring(
      regexp_replace(
        array_join(
          transform(split(regexp_replace(c, MvLead, ""), "#(s?[0-9]*:)?"),
            x => seabField(x, "_", lit(2))),
          " ", "null"),
        "null ", ""),
      1, 4000)
}
