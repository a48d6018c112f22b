package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column combinators re-expressing the reference's row-level scalar transforms
  * (SURVEY.md §2.8, /root/reference/main.py:196-320) as pure Catalyst
  * expressions — every one of these stays inside whole-stage codegen. */
object TicketFunctions {

  /** F1: HTML → text (parser semantics, not regex). Empty string → NULL, the
    * reference's ""-falsy behavior at the column boundary (main.py:108-110). */
  def cleanHtml(c: Column): Column = {
    val stripped = CleanHtml(c)
    when(stripped.isNull || stripped === "", lit(null).cast(StringType)).otherwise(stripped)
  }

  /** F4: epoch **seconds** → "yyyy-MM-dd HH:mm:ss" UTC; 0/NULL/negative-as-
    * falsy quirk: epoch 0 maps to NULL, not 1970-01-01 (main.py:234-241). */
  def secondsToReadable(c: Column): Column =
    when(c.isNull || c === 0, lit(null).cast(StringType))
      .otherwise(date_format(timestamp_seconds(c), "yyyy-MM-dd HH:mm:ss"))

  /** F5: epoch seconds → "yyyy-MM-dd"; same 0→NULL quirk (main.py:243-250). */
  def secondsToDateOnly(c: Column): Column =
    when(c.isNull || c === 0, lit(null).cast(StringType))
      .otherwise(date_format(timestamp_seconds(c), "yyyy-MM-dd"))

  /** F6: stringify-unless-null (main.py:197-198). Python renders booleans as
    * 'True'/'False'; replicate only for boolean inputs. */
  def toStr(c: Column, isBool: Boolean = false): Column =
    if (isBool) when(c.isNull, lit(null).cast(StringType))
      .otherwise(when(c.cast(BooleanType), "True").otherwise("False"))
    else c.cast(StringType)

  /** F7: bool coercion with default false (main.py:286,307-308). */
  def boolOrFalse(c: Column): Column = coalesce(c.cast(BooleanType), lit(false))

  /** F8: JSON-serialize a struct; NULL when the struct itself is NULL
    * (main.py:309,318 — falsy input serializes to NULL, not "null"). */
  def jsonSerialize(c: Column): Column =
    when(c.isNull, lit(null).cast(StringType)).otherwise(to_json(c))

  /** F9: parse-if-string with null-on-malformed (main.py:211-231). Spark's
    * PERMISSIVE from_json yields an all-null struct for malformed input, not
    * NULL — gate on try_parse_json validity to recover the reference's
    * null-on-failure semantics. */
  def parseIfString(c: Column, schema: DataType): Column =
    when(try_parse_json(c).isNotNull, from_json(c, schema))
      .otherwise(lit(null).cast(schema))

  /** F10: {email,name} struct or NULL when source is NULL (main.py:203-209). */
  def emailStruct(c: Column): Column =
    when(c.isNull, lit(null).cast(StructType(Seq(
      StructField("email", StringType), StructField("name", StringType)))))
      .otherwise(struct(
        c.getField("email").cast(StringType).as("email"),
        c.getField("name").cast(StringType).as("name")))

  /** F11: array-of-struct map over toEmails; missing array → empty array
    * (main.py:299). Higher-order `transform`, no UDF. */
  def emailArray(c: Column): Column =
    transform(
      coalesce(c, array()),
      e => struct(
        e.getField("email").cast(StringType).as("email"),
        e.getField("name").cast(StringType).as("name")))

  /** P6: conditional null-out — empty array becomes NULL (main.py:429-430). */
  def nullIfEmptyArray(c: Column): Column =
    when(c.isNull || size(c) === 0, lit(null)).otherwise(c)

  /** Python-style list rendering "['a', 'b']" for stringified list columns
    * (main.py:301-305). Kept behind its own function boundary: engine-native
    * consumers should use the real ArrayType column instead. */
  def pythonListRepr(c: Column): Column =
    when(c.isNull, lit(null).cast(StringType)).otherwise(
      concat(lit("["),
        array_join(transform(c, e => concat(lit("'"), e.cast(StringType), lit("'"))), ", "),
        lit("]")))
}
