package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output formatting (`coerce-value-for-output` data-table.lisp:437-454 and
  * `coerce-data-table-values-for-output` data-table.lisp:456-469) as
  * codegen-friendly column expressions:
  *   - NULL → ""                       (data-table.lisp:446)
  *   - string → itself                 (data-table.lisp:447)
  *   - list → join with ", "           (`*list-delimiter*`, data-table.lisp:434-435, 448-451)
  *   - integer → decimal digits        (data-table.lisp:452)
  *   - real → fixed 2 decimals (~,2f)  (data-table.lisp:453)
  */
object Fns {

  val ListDelimiter = ", "

  /** Formatting expression for one column of the given type. */
  def formatForOutput(c: Column, t: DataType): Column = {
    val s = t match {
      case StringType                           => c
      case DoubleType | FloatType               => format_string("%.2f", c.cast(DoubleType))
      case _: DecimalType                       => format_string("%.2f", c.cast(DoubleType))
      case LongType | IntegerType | ShortType | ByteType => c.cast(StringType)
      case ArrayType(_, _)                      => concat_ws(ListDelimiter, c.cast(ArrayType(StringType)))
      case _                                    => c.cast(StringType)
    }
    coalesce(s, lit(""))
  }

  /** Whole-table formatting: every column becomes its display string. */
  def formatTable(dt: DataTable): DataTable =
    DataTable(dt.df.select(dt.df.schema.fields.map(f => formatForOutput(col(f.name), f.dataType).as(f.name)): _*))

  /** Register the graft scalar library as Spark SQL functions (Spark 4 SQL
    * UDFs — pure expression bodies, inlined by Catalyst into codegen, unlike
    * JVM closures). Gives `spark.sql` users the reference's parsing
    * semantics by name. */
  def registerSqlFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    val trimRe = "'^[\\\\s\\u00A0]+|[\\\\s\\u00A0]+$'"
    // Same semantics as the native RelaxedParseDouble: only finite decimal /
    // scientific literals parse — the validity RLIKE rejects the
    // NaN/Infinity/hex-float/'1.5f' Java-isms that a bare try_cast accepts,
    // so the SQL name and the native expression can't disagree.
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY FUNCTION relaxed_double(s STRING) RETURNS DOUBLE
         |RETURN CASE WHEN regexp_replace(s, '[\\\\s\\u00A0$$,%]', '')
         |              RLIKE '^[+-]?([0-9]+\\\\.?[0-9]*|\\\\.[0-9]+)([eE][+-]?[0-9]+)?$$'
         |            THEN cast(regexp_replace(s, '[\\\\s\\u00A0$$,%]', '') AS DOUBLE) END""".stripMargin)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY FUNCTION trim_nullify(s STRING) RETURNS STRING
         |RETURN CASE WHEN regexp_replace(s, $trimRe, '') = ''
         |              OR lower(regexp_replace(s, $trimRe, '')) = 'nil' THEN NULL
         |            ELSE regexp_replace(s, $trimRe, '') END""".stripMargin)
    // NB plain triple-quoted string (no interpolator): two source backslashes
    // reach the SQL parser as \\s+, which unescapes to the regex \s+.
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION ws_token_count(s STRING) RETURNS BIGINT
        |RETURN size(array_remove(split(lower(s), '\\s+'), ''))""".stripMargin)
  }
}
