package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the rows of the FIRST `<table>` element
  * of an HTML document, as `array<array<string>>` — one inner array
  * per `<tr>`, one element per `<td>`/`<th>` cell, in document order.
  *
  * This is the in-engine half of the reference's dashboard scrape
  * (`/root/reference/cv.py:51-69` — Selenium fetches the page and
  * walks `table -> tr -> td`, reading each cell's rendered text): the
  * BROWSER AUTOMATION stays outside any SQL engine, but everything
  * after "we have the HTML" is a pure function of the text and belongs
  * on the scan, where a whole-file `spark.read.option("wholetext")`
  * load plus this expression plus `posexplode` reproduces the
  * row/cell iteration as a DataFrame (see
  * `graft.pipelines.Ingest.readHtmlCasesTable`).
  *
  * Cell text contract (a simplification of a browser's rendered
  * `.text`, documented rather than emulated): nested tags are
  * stripped, the five named entities `&amp; &lt; &gt; &quot; &nbsp;`
  * and decimal `&#NN;` references are decoded, and whitespace is
  * trimmed and internally collapsed to single spaces. Tag matching is
  * case-insensitive and attribute-tolerant; a cell is closed by its
  * `</td>`/`</th>` or implicitly by the next cell/row boundary (the
  * permissiveness real-world table HTML needs). Rows with zero cells
  * (e.g. a `<tr>` holding only `<th>`-less markup) yield empty inner
  * arrays. No `<table>` yields an empty outer array; null propagates.
  * One document parses in one pass — O(bytes), no regex engine.
  */
case class HtmlTableRows(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }

  override def dataType: DataType =
    ArrayType(ArrayType(StringType, containsNull = false), containsNull = false)

  override def prettyName: String = "html_table_rows"

  override def nullSafeEval(input: Any): Any =
    HtmlTableRows.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = HtmlTableRows.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.parse($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HtmlTableRows {

  /** The one-pass parser. Public so generated code can call it. */
  def parse(s: UTF8String): ArrayData = {
    val html = s.toString
    val n = html.length

    // case-insensitive "does a tag named `name` open/close at i" —
    // i points AT the '<'
    def tagAt(i: Int, name: String, closing: Boolean): Boolean = {
      var j = i
      if (j >= n || html.charAt(j) != '<') return false
      j += 1
      if (closing) {
        if (j >= n || html.charAt(j) != '/') return false
        j += 1
      } else if (j < n && html.charAt(j) == '/') return false
      var k = 0
      while (k < name.length) {
        if (j >= n ||
          Character.toLowerCase(html.charAt(j)) != name.charAt(k)) return false
        j += 1; k += 1
      }
      // must be followed by a delimiter, not a longer tag name (td vs tdx)
      j < n && (html.charAt(j) == '>' || html.charAt(j) == '/' ||
        Character.isWhitespace(html.charAt(j)))
    }

    def skipTag(i: Int): Int = { // i at '<'; returns index past '>'
      var j = i
      while (j < n && html.charAt(j) != '>') j += 1
      math.min(j + 1, n)
    }

    // locate the first <table>
    var i = 0
    while (i < n && !tagAt(i, "table", closing = false)) i += 1
    if (i >= n) return new GenericArrayData(Array.empty[Any])
    i = skipTag(i)

    val rows = new java.util.ArrayList[ArrayData]()
    var cells: java.util.ArrayList[UTF8String] = null
    val cell = new java.lang.StringBuilder()
    var inCell = false

    def decodeAppendText(from: Int, until: Int): Unit = {
      var j = from
      while (j < until) {
        val c = html.charAt(j)
        if (c == '&') {
          val semi = html.indexOf(';', j + 1)
          if (semi > j && semi - j <= 8) {
            val ent = html.substring(j + 1, semi)
            val dec = ent match {
              case "amp" => "&"
              case "lt" => "<"
              case "gt" => ">"
              case "quot" => "\""
              case "nbsp" => " "
              case e if e.length > 1 && e.charAt(0) == '#' &&
                e.drop(1).forall(_.isDigit) =>
                new String(Character.toChars(e.drop(1).toInt))
              case _ => null
            }
            if (dec != null) { cell.append(dec); j = semi + 1 }
            else { cell.append(c); j += 1 }
          } else { cell.append(c); j += 1 }
        } else { cell.append(c); j += 1 }
      }
    }

    def emitCell(): Unit = {
      if (inCell) {
        // trim + collapse internal whitespace
        val out = new java.lang.StringBuilder()
        var j = 0
        var pendingSpace = false
        while (j < cell.length()) {
          val c = cell.charAt(j)
          if (Character.isWhitespace(c)) pendingSpace = out.length() > 0
          else {
            if (pendingSpace) out.append(' ')
            pendingSpace = false
            out.append(c)
          }
          j += 1
        }
        cells.add(UTF8String.fromString(out.toString))
        cell.setLength(0)
        inCell = false
      }
    }

    def emitRow(): Unit = {
      if (cells != null) {
        emitCell()
        rows.add(new GenericArrayData(
          cells.toArray.asInstanceOf[Array[Any]]))
        cells = null
      }
    }

    var done = false
    while (i < n && !done) {
      val c = html.charAt(i)
      if (c == '<') {
        if (tagAt(i, "table", closing = true)) { emitRow(); done = true }
        else if (tagAt(i, "tr", closing = false)) {
          emitRow(); cells = new java.util.ArrayList[UTF8String]()
          i = skipTag(i)
        } else if (tagAt(i, "tr", closing = true)) { emitRow(); i = skipTag(i) }
        else if (tagAt(i, "td", closing = false) ||
          tagAt(i, "th", closing = false)) {
          emitCell()
          if (cells == null) cells = new java.util.ArrayList[UTF8String]()
          inCell = true
          i = skipTag(i)
        } else if (tagAt(i, "td", closing = true) ||
          tagAt(i, "th", closing = true)) { emitCell(); i = skipTag(i) }
        else i = skipTag(i) // any other tag: strip
      } else {
        if (inCell) {
          val next = html.indexOf('<', i)
          val until = if (next < 0) n else next
          decodeAppendText(i, until)
          i = until
        } else i += 1
      }
    }
    emitRow()
    new GenericArrayData(rows.toArray.asInstanceOf[Array[Any]])
  }

  /** `html_table_rows(html)` as a Column. */
  def htmlTableRows(html: Column): Column =
    column(HtmlTableRows(expression(html)))
}
