package graft.sources

import org.apache.spark.sql.Column

/** Driver-side config source — SURVEY §2.1 S7.
  *
  * The reference drives its sweep from two YAML documents: rating-range
  * filter configs (/root/reference/filter_config.yaml, loaded+merged at
  * utils_grid_search.py:90-139) and parameter grids
  * (params_config.yaml). Config load is a driver concern, not a
  * dataflow concern; with zero extra dependencies available, this is a
  * parser for exactly the YAML subset those files use — nested
  * `key:` maps by 2-space indentation, scalar leaves, and inline
  * `[a, b, c]` lists — plus typed views over the parsed tree.
  */
object ConfigSource {

  sealed trait Node
  case class YMap(entries: Vector[(String, Node)]) extends Node {
    def apply(key: String): Node = entries.find(_._1 == key).map(_._2)
      .getOrElse(throw new NoSuchElementException(s"config key: $key"))
    def get(key: String): Option[Node] = entries.find(_._1 == key).map(_._2)
    def keys: Seq[String] = entries.map(_._1)
  }
  case class YList(items: Vector[Node]) extends Node
  case class YScalar(raw: String) extends Node {
    def asDouble: Double = raw.toDouble
    def asInt: Int = raw.toInt
  }

  /** Parse the YAML subset. Lines: `key:`, `key: scalar`,
    * `key: [a, b]`, `- scalar`, `- [a, b]`; `#` comments; blank lines
    * ignored. */
  def parse(text: String): YMap = {
    val lines = text.linesIterator
      .map(l => l.takeWhile(_ != '#'))
      .filter(_.trim.nonEmpty)
      .toVector
    val (node, rest) = parseBlock(lines, 0)
    require(rest.isEmpty, s"unparsed config lines: $rest")
    node match {
      case m: YMap => m
      case other => throw new IllegalArgumentException(
        s"config root must be a map, got $other")
    }
  }

  private def indentOf(l: String): Int = l.takeWhile(_ == ' ').length

  private def parseBlock(lines: Vector[String], indent: Int): (Node, Vector[String]) = {
    if (lines.isEmpty) return (YMap(Vector.empty), lines)
    if (lines.head.trim.startsWith("- ")) {
      var rest = lines
      var items = Vector.empty[Node]
      while (rest.nonEmpty && indentOf(rest.head) == indent &&
          rest.head.trim.startsWith("- ")) {
        items :+= parseValue(rest.head.trim.stripPrefix("- ").trim)
        rest = rest.tail
      }
      (YList(items), rest)
    } else {
      var rest = lines
      var entries = Vector.empty[(String, Node)]
      while (rest.nonEmpty && indentOf(rest.head) == indent &&
          !rest.head.trim.startsWith("- ")) {
        val line = rest.head.trim
        val ci = line.indexOf(':')
        require(ci > 0, s"expected key: in '$line'")
        val key = line.take(ci).trim
        val inline = line.drop(ci + 1).trim
        rest = rest.tail
        if (inline.nonEmpty) entries :+= key -> parseValue(inline)
        else {
          val childIndent = rest.headOption.map(indentOf).getOrElse(indent)
          if (childIndent > indent) {
            val (child, r2) = parseBlock(rest, childIndent)
            entries :+= key -> child
            rest = r2
          } else entries :+= key -> YMap(Vector.empty)
        }
      }
      (YMap(entries), rest)
    }
  }

  private def parseValue(v: String): Node =
    if (v.startsWith("[") && v.endsWith("]")) {
      val body = v.drop(1).dropRight(1).trim
      if (body.isEmpty) YList(Vector.empty)
      else YList(body.split(",").map(s => YScalar(s.trim): Node).toVector)
    } else YScalar(v)

  /** A named rating/label-range filter: keep rows whose value falls in
    * any [lo, hi) range — the filter_config.yaml shape. */
  case class RangeFilter(name: String, ranges: Seq[(Double, Double)]) {
    def predicate(c: Column): Column =
      ranges.map { case (lo, hi) => c >= lo && c < hi }
        .reduce(_ || _)
  }

  /** filters: {name: {ranges: [[lo, hi], ...]}} */
  def rangeFilters(root: YMap): Seq[RangeFilter] =
    root("filters").asInstanceOf[YMap].entries.map { case (name, node) =>
      val ranges = node.asInstanceOf[YMap]("ranges") match {
        case YList(items) => items.map {
          case YList(Vector(lo: YScalar, hi: YScalar)) =>
            (lo.asDouble, hi.asDouble)
          case other =>
            throw new IllegalArgumentException(s"bad range: $other")
        }
        case other => throw new IllegalArgumentException(s"bad ranges: $other")
      }
      RangeFilter(name, ranges)
    }

  /** grid: {param: [v1, v2, ...]} → cartesian product with each combo
    * as an ordered (param -> value) map — the params_config.yaml shape
    * (J7). */
  def paramGrid(root: YMap, section: String = "grid"): Seq[Map[String, Int]] = {
    val params = root(section).asInstanceOf[YMap].entries.map {
      case (name, YList(vs)) =>
        name -> vs.map(_.asInstanceOf[YScalar].asInt)
      case (name, s: YScalar) => name -> Vector(s.asInt)
      case (name, other) =>
        throw new IllegalArgumentException(s"bad grid param $name: $other")
    }
    params.foldLeft(Seq(Map.empty[String, Int])) { case (acc, (name, vs)) =>
      for (m <- acc; v <- vs) yield m + (name -> v)
    }
  }
}
