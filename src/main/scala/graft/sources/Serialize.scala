package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Result serialization to CSV / JSON record formats matching pandas
  * `to_csv(index=False)` / `to_json(orient='records')`
  * (reference: qcache/qframe/__init__.py:82-89).
  *
  * Serialization is the one place the pipeline materializes on the driver —
  * identical to the reference, whose HTTP responses are single strings.
  * `collect()` (not `toLocalIterator`) on purpose: the response string must
  * be fully held anyway, and toLocalIterator launches one sequential job
  * PER PARTITION — a measured ~10× latency hit on small cached tables.
  */
object Serialize {

  /** Thrown when a `maxBytes` budget is exceeded MID-SERIALIZATION: the
    * abort fires per appended row, so the driver never finishes building
    * a response string far past the budget (the collect'ed rows are the
    * row guard's concern; the response string — typically the larger
    * allocation — is this one's). Char count is the abort trigger
    * (UTF-8 bytes ≥ chars, so chars past the budget is already over);
    * the caller still byte-checks the encoded result for the multibyte
    * tail case. */
  final class ByteBudgetExceeded(val budget: Long)
    extends RuntimeException(s"serialized result exceeds $budget bytes")

  private def checkBudget(sb: StringBuilder, maxBytes: Long): Unit =
    if (maxBytes > 0 && sb.length > maxBytes)
      throw new ByteBudgetExceeded(maxBytes)

  /** Only the engine's OWN hidden columns are stripped — a user column or
    * alias that happens to start with "__" serializes like any other
    * (the reference has no hidden columns at all, so everything it stores
    * it also returns). */
  private def isHidden(name: String): Boolean =
    name == graft.engine.ExprCompiler.RowId ||
      name.startsWith("__in_") || name == "__upd_mask__"

  private def visibleFields(df: DataFrame): Array[(StructField, Int)] =
    df.schema.fields.zipWithIndex
      .filterNot { case (f, _) => isHidden(f.name) }

  /** pandas to_csv: header, no index, empty string for null, minimal
    * quoting. Floats keep a trailing .0 (pandas float repr). Returns the
    * serialized row count too — when a query has no offset/limit the
    * count IS the unsliced length, saving the separate count job. */
  def toCsvCounted(df: DataFrame, maxBytes: Long = 0L): (String, Long) = {
    val fields = visibleFields(df)
    val sb = new StringBuilder
    var rows = 0L
    sb.append(fields.map { case (f, _) => csvEscape(f.name) }.mkString(",")).append('\n')
    df.collect().foreach { row =>
      rows += 1
      var first = true
      fields.foreach { case (f, i) =>
        if (!first) sb.append(',')
        first = false
        sb.append(csvValue(row, i, f.dataType))
      }
      sb.append('\n')
      checkBudget(sb, maxBytes)
    }
    (sb.toString, rows)
  }

  private def csvValue(row: Row, i: Int, dt: DataType): String =
    if (row.isNullAt(i)) ""
    else dt match {
      case StringType => csvEscape(row.getString(i))
      case DoubleType => renderDouble(row.getDouble(i))
      case FloatType  => renderDouble(row.getFloat(i).toDouble)
      case _          => String.valueOf(row.get(i))
    }

  private def csvEscape(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** pandas repr: whole floats render with a trailing .0, not scientific
    * for typical magnitudes. */
  private def renderDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) ""
    else if (d == math.rint(d) && math.abs(d) < 1e16) s"${d.toLong}.0"
    else String.valueOf(d)

  /** pandas to_json(orient='records'): `[{...},{...}]`, NaN/Inf → null
    * (reference: test_api.py:109-116 — division-by-zero inf serializes as
    * JSON null). */
  def toJsonCounted(df: DataFrame, maxBytes: Long = 0L): (String, Long) = {
    val fields = visibleFields(df)
    val sb = new StringBuilder
    var rows = 0L
    sb.append('[')
    var firstRow = true
    df.collect().foreach { row =>
      if (!firstRow) sb.append(',')
      firstRow = false
      rows += 1
      sb.append('{')
      var first = true
      fields.foreach { case (f, i) =>
        if (!first) sb.append(',')
        first = false
        sb.append(jsonString(f.name)).append(':')
        sb.append(jsonValue(row, i, f.dataType))
      }
      sb.append('}')
      checkBudget(sb, maxBytes)
    }
    sb.append(']')
    (sb.toString, rows)
  }

  /** NDJSON output: one record object per line, no trailing newline
    * (pandas `to_json(orient="records", lines=True)` shape); same value
    * formatting as [[toJsonCounted]] (NaN/inf → null, utf-8). */
  def toJsonLinesCounted(df: DataFrame, maxBytes: Long = 0L): (String, Long) = {
    val fields = visibleFields(df)
    val sb = new StringBuilder
    var rows = 0L
    df.collect().foreach { row =>
      if (rows > 0) sb.append('\n')
      rows += 1
      sb.append('{')
      var first = true
      fields.foreach { case (f, i) =>
        if (!first) sb.append(',')
        first = false
        sb.append(jsonString(f.name)).append(':')
        sb.append(jsonValue(row, i, f.dataType))
      }
      sb.append('}')
      checkBudget(sb, maxBytes)
    }
    (sb.toString, rows)
  }

  private def jsonValue(row: Row, i: Int, dt: DataType): String =
    if (row.isNullAt(i)) "null"
    else dt match {
      case StringType => jsonString(row.getString(i))
      case DoubleType =>
        val d = row.getDouble(i)
        if (d.isNaN || d.isInfinite) "null" else String.valueOf(d)
      case FloatType =>
        val f = row.getFloat(i)
        if (f.isNaN || f.isInfinite) "null" else String.valueOf(f)
      case BooleanType => String.valueOf(row.getBoolean(i))
      case _: NumericType => String.valueOf(row.get(i))
      case TimestampType | DateType => jsonString(String.valueOf(row.get(i)))
      case _ => jsonString(String.valueOf(row.get(i)))
    }

  private def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
