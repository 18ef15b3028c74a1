package perfbench

import scala.collection.mutable.ArrayBuffer

/** One HBase cell as the store returns it. */
final case class Cell(rowkey: String, family: String, qualifier: String,
                      version: Long, value: String)

object Cell {
  implicit val ord: Ordering[Cell] =
    Ordering.by((c: Cell) => (c.rowkey, c.family, c.qualifier, c.version, c.value))
}

/** The expected-cell model: json2hbase's qualifier rules applied to the
  * JSON text with a small parser of its own, no Spark involved.
  *  - an object member extends the qualifier with `.key` (no dot at the
  *    root);
  *  - an array element extends it with `[i]`;
  *  - a string leaf stores its text, a number its literal, a boolean
  *    `true`/`false`;
  *  - a JSON null, an empty object and an empty array store no cell. */
object Model {

  def cells(d: Doc, family: String): Seq[Cell] = {
    val out = ArrayBuffer.empty[Cell]
    new Walker(d.json, (q, v) => out += Cell(d.rowkey, family, q, d.version, v)).root()
    out.toSeq
  }

  def cellCount(d: Doc): Int = {
    var n = 0
    new Walker(d.json, (_, _) => n += 1).root()
    n
  }

  /** Recursive-descent walk over JSON text, emitting (qualifier, value)
    * for every non-null leaf. */
  private final class Walker(s: String, emit: (String, String) => Unit) {
    private var i = 0

    private def ws(): Unit = while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    private def fail(what: String) =
      throw new IllegalArgumentException(s"bad JSON at $i: $what in ${s.take(80)}")
    private def expect(c: Char): Unit = {
      ws(); if (i >= s.length || s.charAt(i) != c) fail(s"expected '$c'"); i += 1
    }

    def root(): Unit = {
      ws()
      value("")
      ws()
      if (i != s.length) fail("trailing text")
    }

    private def value(q: String): Unit = {
      ws()
      if (i >= s.length) fail("end of input")
      s.charAt(i) match {
        case '{' => obj(q)
        case '[' => arr(q)
        case '"' => emit(q, string())
        case 'n' => word("null")
        case 't' => word("true"); emit(q, "true")
        case 'f' => word("false"); emit(q, "false")
        case _   => emit(q, number())
      }
    }

    private def word(w: String): Unit =
      if (s.startsWith(w, i)) i += w.length else fail(s"expected $w")

    private def number(): String = {
      val st = i
      while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
      if (i == st) fail("expected a value")
      s.substring(st, i)
    }

    private def string(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          s.charAt(i) match {
            case 'n' => sb.append('\n')
            case 't' => sb.append('\t')
            case 'r' => sb.append('\r')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' => sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar); i += 4
            case o   => sb.append(o)
          }
        } else sb.append(c)
        i += 1
      }
      i += 1
      sb.toString
    }

    private def obj(q: String): Unit = {
      expect('{'); ws()
      if (s.charAt(i) == '}') { i += 1; return }
      var more = true
      while (more) {
        ws()
        val k = string()
        expect(':')
        value(if (q.isEmpty) k else q + "." + k)
        ws()
        if (s.charAt(i) == ',') i += 1 else { expect('}'); more = false }
      }
    }

    private def arr(q: String): Unit = {
      expect('['); ws()
      if (s.charAt(i) == ']') { i += 1; return }
      var n = 0
      var more = true
      while (more) {
        value(s"$q[$n]")
        n += 1
        ws()
        if (s.charAt(i) == ',') i += 1 else { expect(']'); more = false }
      }
    }
  }
}
