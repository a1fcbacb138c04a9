package graftbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row

import scala.jdk.CollectionConverters._

/** Row-multiset comparison between a query's collected rows and its
  * DuckDB oracle rows, canonicalised as `tools/compare_oracle.py` does:
  * columns sorted by name, floats compared to 6 decimals, rows sorted.
  * Arrays compare element-wise; integer and floating cells compare as
  * numbers, so BIGINT against DOUBLE widening never counts as a
  * mismatch. */
object Rows {
  sealed trait Cell
  case object Null extends Cell
  final case class Num(v: Double) extends Cell
  final case class Str(v: String) extends Cell
  final case class Arr(v: Vector[Cell]) extends Cell

  final case class Table(columns: Vector[String], rows: Vector[Vector[Cell]])

  private def rank(c: Cell): Int = c match {
    case Null => 0; case _: Num => 1; case _: Str => 2; case _: Arr => 3
  }

  private def round6(v: Double): Double =
    if (v.isNaN || v.isInfinite) v else math.rint(v * 1e6) / 1e6

  private val cellOrd: Ordering[Cell] = new Ordering[Cell] {
    def compare(a: Cell, b: Cell): Int = (a, b) match {
      case (Num(x), Num(y)) => java.lang.Double.compare(round6(x), round6(y))
      case (Str(x), Str(y)) => x.compareTo(y)
      case (Arr(x), Arr(y)) => rowOrd.compare(x, y)
      case _ => Integer.compare(rank(a), rank(b))
    }
  }

  private val rowOrd: Ordering[Vector[Cell]] = new Ordering[Vector[Cell]] {
    def compare(a: Vector[Cell], b: Vector[Cell]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val c = cellOrd.compare(a(i), b(i))
        if (c != 0) return c
        i += 1
      }
      Integer.compare(a.length, b.length)
    }
  }

  private def sameCell(a: Cell, b: Cell): Boolean = (a, b) match {
    case (Num(x), Num(y)) =>
      x == y || math.abs(x - y) <= 2e-6 + 1e-9 * math.abs(y)
    case (Arr(x), Arr(y)) =>
      x.length == y.length && x.indices.forall(i => sameCell(x(i), y(i)))
    case _ => a == b
  }

  private def sparkCell(v: Any): Cell = v match {
    case null => Null
    case n: java.lang.Number => Num(n.doubleValue)
    case b: java.lang.Boolean => Str(b.toString)
    case s: String => Str(s)
    case s: scala.collection.Seq[_] => Arr(s.iterator.map(sparkCell).toVector)
    case other => Str(other.toString)
  }

  private def jsonCell(n: JsonNode): Cell =
    if (n == null || n.isNull) Null
    else if (n.isNumber) Num(n.asDouble)
    else if (n.isBoolean) Str(n.asBoolean.toString)
    else if (n.isArray) Arr(n.elements.asScala.map(jsonCell).toVector)
    else Str(n.asText)

  /** Puts columns in name order and sorts the rows. */
  private def canonical(columns: Vector[String],
      rows: Iterator[Vector[Cell]]): Table = {
    val order = columns.indices.sortBy(columns(_))
    Table(order.map(columns).toVector,
      rows.map(r => order.map(r).toVector).toVector.sorted(rowOrd))
  }

  def fromSpark(columns: Seq[String], rows: Array[Row]): Table =
    canonical(columns.toVector,
      rows.iterator.map(r => (0 until r.length).map(i => sparkCell(r.get(i))).toVector))

  /** `{"columns": [...], "rows": [[...], ...]}` as written by oracle.py. */
  def fromJson(node: JsonNode): Table =
    canonical(node.get("columns").elements.asScala.map(_.asText).toVector,
      node.get("rows").elements.asScala.map(_.elements.asScala.map(jsonCell).toVector))

  /** None when equal, else a one-line description of the first difference. */
  def diff(got: Table, want: Table): Option[String] =
    if (got.columns != want.columns)
      Some(s"columns ${got.columns.mkString(",")} != oracle ${want.columns.mkString(",")}")
    else if (got.rows.length != want.rows.length)
      Some(s"${got.rows.length} rows != oracle ${want.rows.length}")
    else got.rows.indices.find { i =>
      val (g, w) = (got.rows(i), want.rows(i))
      g.length != w.length || g.indices.exists(j => !sameCell(g(j), w(j)))
    }.map(i => s"row $i: ${got.rows(i).mkString("(", ", ", ")")} != oracle " +
      want.rows(i).mkString("(", ", ", ")"))
}
