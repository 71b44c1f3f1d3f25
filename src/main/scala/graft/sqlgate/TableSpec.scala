package graft.sqlgate

import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Parsed `CREATE TABLE ... WITH ('connector'=..., ...)` DDL — the one
  * construct Spark SQL lacks that the reference's whole surface hangs on
  * (dynamic tables declared purely in DDL text: physical columns,
  * computed columns `c AS expr` incl. PROCTIME(), `WATERMARK FOR c AS
  * c - INTERVAL 'n' SECOND`, `PRIMARY KEY (...) NOT ENFORCED`, and the
  * WITH-options map; shapes from `docs/sql_demo/demo_1.md:27-56`,
  * `demo_4.md:41-48`, `demo_datagen.md:27-45`).
  */
final case class TableSpec(
    name: String,
    columns: Seq[(String, String)],          // physical (name, sqlType)
    computed: Seq[(String, String)],         // (name, spark-sql expr)
    watermark: Option[(String, String)],     // (eventTimeCol, delay e.g. "20 seconds")
    primaryKey: Seq[String],
    options: Map[String, String]) {

  def connector: String = options.getOrElse("connector",
    throw new IllegalArgumentException(s"table $name: missing 'connector'"))

  def schema: StructType = StructType(columns.map { case (n, t) =>
    StructField(n, DataType.fromDDL(sparkType(t)))
  })

  /** Flink SQL type → Spark SQL type text (1:1 per SURVEY §1.3). */
  private def sparkType(t: String): String = {
    val up = t.trim.toUpperCase
    if (up.startsWith("TIMESTAMP")) "TIMESTAMP" // TIMESTAMP(p) → micros
    else if (up == "VARCHAR" || up.startsWith("VARCHAR(") ||
      up.startsWith("CHAR(") || up == "CHAR" || up == "STRING") "STRING"
    else if (up == "INTEGER") "INT"
    else up // INT/BIGINT/TINYINT/SMALLINT/FLOAT/DOUBLE/DECIMAL(p,s)/BOOLEAN
  }
}

object TableSpec {
  private val CreateRe =
    """(?is)CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([`"\w.]+)\s*\((.*)\)\s*(?:COMMENT\s+'[^']*'\s*)?WITH\s*\((.*)\)\s*""".r
  private val WatermarkRe =
    """(?is)WATERMARK\s+FOR\s+`?(\w+)`?\s+AS\s+`?\1`?\s*-\s*INTERVAL\s+'(\d+)'\s+(\w+)""".r
  private val PkRe =
    """(?is)(?:CONSTRAINT\s+\w+\s+)?PRIMARY\s+KEY\s*\(([^)]*)\)\s*(?:NOT\s+ENFORCED)?""".r
  private val OptionRe = """'([^']*)'\s*=\s*'([^']*)'""".r

  def parse(ddl: String): TableSpec = {
    val m = CreateRe.findFirstMatchIn(ddl.trim.stripSuffix(";")).getOrElse(
      throw new IllegalArgumentException(
        s"not a connector CREATE TABLE: ${ddl.take(80)}"))
    val name = m.group(1).replace("`", "").replace("\"", "")
    val body = m.group(2)
    val optsText = m.group(3)

    val cols = Seq.newBuilder[(String, String)]
    val comp = Seq.newBuilder[(String, String)]
    var watermark: Option[(String, String)] = None
    var pk: Seq[String] = Nil

    SqlLexer.splitTopLevel(body).filter(_.nonEmpty).foreach {
      case WatermarkRe(col, n, unit) =>
        watermark = Some((col, s"$n ${unit.toLowerCase.stripSuffix("s")}s"))
      case PkRe(keys) =>
        pk = keys.split(",").map(_.trim.replace("`", "")).toSeq
      case item if item.trim.toUpperCase.startsWith("WATERMARK") ||
          item.trim.toUpperCase.startsWith("PRIMARY") ||
          item.trim.toUpperCase.startsWith("CONSTRAINT") =>
        // loud failure instead of silently parsing a malformed constraint
        // clause as a bogus physical column
        throw new IllegalArgumentException(
          s"unparseable constraint clause: ${item.trim.take(80)}")
      case item =>
        val cleaned = item.replaceAll("(?is)\\s+COMMENT\\s+'[^']*'", "")
        cleaned.split("\\s+", 2) match {
          case Array(colName, rest) if rest.trim.toUpperCase.startsWith("AS ") =>
            comp += ((colName.replace("`", ""), rest.trim.drop(3).trim))
          case Array(colName, rest) =>
            cols += ((colName.replace("`", ""), rest.trim))
          case _ =>
            throw new IllegalArgumentException(s"bad column def: $item")
        }
    }
    val options = OptionRe.findAllMatchIn(optsText)
      .map(om => om.group(1) -> om.group(2)).toMap
    TableSpec(name, cols.result(), comp.result(), watermark, pk, options)
  }

  /** Is this CREATE TABLE one of ours (has a WITH options clause)? */
  def isConnectorDdl(stmt: String): Boolean =
    CreateRe.findFirstMatchIn(stmt.trim.stripSuffix(";")).isDefined
}
