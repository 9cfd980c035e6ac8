package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.DataFrame

/** Column-expression library re-expressing the reference's scalar transforms
  * (SURVEY.md §2.8, G1–G18). Everything here is a pure `Column` builder over
  * `org.apache.spark.sql.functions` — codegen'd by Tungsten, no UDFs — so the
  * whole transform layer stays inside WholeStageCodegen and scales linearly
  * with input partitions.
  *
  * Reference behaviors mirrored (citations into /root/reference/):
  *  - event-name normalization: pipeline/transform.py:34-48
  *  - null-ish string scrub:    pipeline/transform.py:80-85
  *  - numeric coercion:         pipeline/transform.py:89-90
  *  - date/hour derivation:     pipeline/transform.py:94-96
  *  - multi-format ts parse:    pipeline/sources/ecommerce/kaggle_amazon_sales_loader.py:33-61
  *  - column coalescing:        kaggle_amazon_sales_loader.py:89-93
  *  - currency scrubbing:       kaggle_amazon_sales_loader.py:95-104
  *  - deterministic hash ids:   kaggle_amazon_sales_loader.py:28-31
  */
object CleanFns {

  /** G1: trim + lower + `[- ]` → `_` (transform.py:34-42). */
  def normalizeToken(c: Column): Column =
    regexp_replace(lower(trim(c)), "[\\- ]", "_")

  /** G2: canonicalization map applied after G1 (transform.py:45-48).
    * Pairs are (variant → canonical). */
  def canonicalize(c: Column, mapping: Seq[(String, String)]): Column =
    mapping.foldRight(c) { case ((from, to), acc) =>
      when(c === lit(from), lit(to)).otherwise(acc)
    }

  /** Reference event-name cleanup: G1 then G2 with the reference's map
    * (page_view/page view → pageview) plus the fixture's `view` variant. */
  def normalizeEventName(c: Column): Column =
    canonicalize(normalizeToken(c),
      Seq("page_view" -> "pageview", "page view" -> "pageview", "view" -> "pageview"))

  /** `nullif(trim(c), '')` — blank-to-null, the semantic core of G3. */
  def nullifBlank(c: Column): Column = nullif(trim(c), lit(""))

  /** G3: scrub pandas string artifacts ("", "nan", "None", "<NA>") to real
    * nulls (transform.py:80-85). */
  def scrubNullish(c: Column): Column =
    when(trim(c).isin("", "nan", "None", "<NA>"), lit(null)).otherwise(trim(c))

  /** G4: numeric coercion, null on failure (`pd.to_numeric(errors="coerce")`,
    * transform.py:89-90). ANSI-safe via try_cast. */
  def tryDouble(c: Column): Column = c.try_cast("double")

  /** G10: strip thousands separators + currency sigils then parse; "" → 0.0
    * (kaggle loader:95-104). `translate` with an empty replacement deletes
    * the listed codepoints in one pass — no regex engine in the hot
    * ingest path. */
  def moneyScrub(c: Column): Column =
    coalesce(translate(c, ",$₹€£", "").try_cast("double"), lit(0.0))

  /** G11: int coercion via float, "" → 0 (kaggle loader:106-113). */
  def intViaFloat(c: Column): Column =
    coalesce(floor(c.try_cast("double")).try_cast("int"), lit(0))

  /** G9: first non-blank among candidate columns (`_pick`,
    * kaggle loader:89-93). */
  def pickFirst(cols: Column*): Column = coalesce(cols.map(nullifBlank): _*)

  /** Anchored shape-regex for a java.time pattern: numeric fields → \d{n},
    * quoted sections and separators → literals. Drives the G7 dispatch.
    * Returns None for any pattern containing a field letter outside the
    * supported y/M/d/H/m/s set (e.g. 'h', 'a', 'S'): an unknown letter is a
    * FIELD, not a separator, so treating it literally would mis-gate the
    * dispatch — such formats fall back to plain try_to_timestamp. */
  private[graft] def formatShapeRegex(f: String): Option[String] = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < f.length) {
      f(i) match {
        case '\'' =>
          val j = f.indexOf('\'', i + 1)
          sb.append(java.util.regex.Pattern.quote(f.substring(i + 1, j)))
          i = j
        case ch @ ('y' | 'M' | 'd' | 'H' | 'm' | 's') =>
          var j = i
          while (j < f.length && f(j) == ch) j += 1
          // java.time: a single-letter numeric field accepts 1-2 digits;
          // repeated letters pin the exact width (strict mode).
          sb.append(if (j - i == 1) "\\d{1,2}" else s"\\d{${j - i}}")
          i = j - 1
        case ch if ch.isLetter => return None // unhandled field letter
        case ch => sb.append(java.util.regex.Pattern.quote(ch.toString))
      }
      i += 1
    }
    Some(sb.append("$").toString)
  }

  /** G7: multi-format timestamp parse — try each pattern in order, null if
    * none match (kaggle loader:33-61). Date-only patterns (<= 10 chars) are
    * pinned to 12:00 noon exactly as the loader does (:55-57).
    *
    * Scale note: a blind coalesce-of-try_to_timestamp chain pays one
    * thrown-and-swallowed java.time exception per NON-matching format per
    * row — measured 4× slower than the scan itself at sf0.1. Instead each
    * row is dispatched by an anchored shape regex (cheap, codegen'd) to the
    * only format class that can possibly parse it; formats sharing a shape
    * (dd/MM vs MM/dd) stay an in-order coalesce within their branch, so
    * first-match-wins semantics are preserved exactly. */
  /** Arithmetic parse for a FIXED-WIDTH java.time pattern (every numeric
    * field spelled with >= 2 letters): field positions are static, so the
    * parse is substring + int cast + try_make_timestamp — all codegen'd
    * integer ops, no DateTimeFormatter (measured ~4× on the Kaggle ingest
    * path). Only legal behind the shape-regex gate: the anchored regex has
    * already guaranteed digits at every field position. Returns None for
    * variable-width patterns (single-letter fields), which stay on
    * try_to_timestamp. 'yy' resolves to 2000-2099 like java.time's reduced
    * field. Difference vs SMART-mode java.time: day-of-month overflow
    * (e.g. Feb 30) yields null here instead of clamping — stricter, and the
    * behavior the loader's errors="coerce" intends. */
  private[graft] def arithmeticTsParse(t: Column, f: String): Option[Column] = {
    var pos = 1
    var year: Column = null
    var mo: Column = lit(1); var dd: Column = lit(1)
    var hh: Column = lit(0); var mi: Column = lit(0); var ss: Column = lit(0)
    var ok = true
    var i = 0
    while (i < f.length && ok) {
      f(i) match {
        case '\'' =>
          val j = f.indexOf('\'', i + 1)
          pos += j - i - 1
          i = j
        case ch @ ('y' | 'M' | 'd' | 'H' | 'm' | 's') =>
          var j = i
          while (j < f.length && f(j) == ch) j += 1
          val w = j - i
          if (w == 1) ok = false
          else {
            val v = substring(t, pos, w).cast("int")
            ch match {
              case 'y' => year = if (w == 2) v + 2000 else v
              case 'M' => mo = v
              case 'd' => dd = v
              case 'H' => hh = v
              case 'm' => mi = v
              case 's' => ss = v
            }
            pos += w
          }
          i = j - 1
        case ch if ch.isLetter => ok = false // unhandled FIELD ('h','a','S',…)
        case _ => pos += 1 // non-letter separator ('-', '/', ':', ' ', '.')
      }
      i += 1
    }
    if (!ok || year == null) None
    else Some(call_function("try_make_timestamp", year, mo, dd, hh, mi, ss))
  }

  def multiFormatTs(c: Column, formats: Seq[String]): Column = {
    val t = trim(c)
    val (shaped, unshaped) = formats.zipWithIndex
      .partition { case (f, _) => formatShapeRegex(f).isDefined }
    val groups = shaped
      .groupBy { case (f, _) => formatShapeRegex(f).get }
      .toSeq
      .sortBy { case (_, fs) => fs.map(_._2).min }
    // Formats with field letters outside the shape-regex alphabet can't be
    // gated cheaply; they form the fallback branch (plain try_to_timestamp
    // chain, in declaration order) taken only when no shape gate matches.
    val fallback: Column =
      if (unshaped.isEmpty) lit(null).cast("timestamp")
      else coalesce(unshaped.sortBy(_._2)
        .map(f => try_to_timestamp(t, lit(f._1))): _*)
    val parsed =
      if (groups.isEmpty) fallback
      else {
        val branches = groups.map { case (re, fs) =>
          (t.rlike(re),
            coalesce(fs.sortBy(_._2).map(f =>
              arithmeticTsParse(t, f._1)
                .getOrElse(try_to_timestamp(t, lit(f._1)))): _*))
        }
        branches.tail
          .foldLeft(when(branches.head._1, branches.head._2)) {
            case (acc, (cond, v)) => acc.when(cond, v)
          }
          .otherwise(fallback)
      }
    // Single reference to the parse result: null + interval is null, so the
    // noon-pin can be unconditional arithmetic on it.
    parsed + when(length(t) <= 10, expr("INTERVAL 12 HOURS"))
      .otherwise(expr("INTERVAL 0 HOURS"))
  }

  /** The loader's format list (kaggle loader:35-44), java.time syntax. */
  val KaggleTsFormats: Seq[String] = Seq(
    "MM-dd-yy", "MM-dd-yyyy", "yyyy-MM-dd", "dd/MM/yyyy", "MM/dd/yyyy",
    "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss")

  /** G13: deterministic 24-hex-char id — sha256 over '|'-joined parts
    * (kaggle loader:28-31). Lowercase hex on both Spark and DuckDB. */
  def hashId(parts: Column*): Column =
    substring(sha2(concat_ws("|", parts: _*), 256), 1, 24)

  /** G5: event_date (string yyyy-MM-dd, matching `ts.dt.date.astype(str)`)
    * and hour (transform.py:94-96). */
  def eventDate(ts: Column): Column = date_format(ts, "yyyy-MM-dd")
  def eventHour(ts: Column): Column = hour(ts).cast("bigint")

  /** G6: substring date-bucketing over ISO timestamp text
    * (analytics.py:59-66). Equal to eventDate under UTC session tz. */
  def substrDateKey(ts: Column): Column = substring(ts.cast("string"), 1, 10)

  /** G14: default-fill (load.py:41-48). */
  def defaultFill(c: Column, default: String = "unknown"): Column =
    coalesce(nullifBlank(c), lit(default))

  /** §1.3: add any columns of `schema` missing from `df` as typed nulls —
    * the defensive-patching idiom the reference scatters through
    * transform.py:34-50 / load.py:37-48, done once. */
  def ensureColumns(df: DataFrame, schema: StructType): DataFrame =
    schema.fields.foldLeft(df) { (acc, f) =>
      if (acc.columns.contains(f.name)) acc
      else acc.withColumn(f.name, lit(null).cast(f.dataType))
    }

  /** Microsecond-precision portable timestamp formatting (stable across
    * Spark `date_format` and DuckDB `strftime('%Y-%m-%d %H:%M:%S.%f')`). */
  def tsMicros(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Half-up rounding at 6 decimals, the output contract's rule for
    * doubles; the oracle SQL spells the same arithmetic
    * `FLOOR(x * 1000000.0 + 0.5) / 1000000.0`. */
  def r6(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)

  /** The same rule for a plain `Double` computed outside a query plan. */
  def r6(x: Double): Double = math.floor(x * 1000000.0 + 0.5) / 1000000.0
}
