package perfbench

import java.util.SplittableRandom

/** One generated document: its rowkey, its HBase cell version, and the
  * JSON text the program ingests. */
final case class Doc(rowkey: String, version: Long, json: String)

/** Seeded generator of schema-less JSON documents.
  *
  * The same seed gives byte-identical documents. Shape parameters (all
  * fixed here, and recorded in perfbench/DESIGN.md):
  *  - nesting depth 1..6, drawn per document with weights
  *    `DepthWeights`; one path of the document always reaches it;
  *  - object fan-out 1..5 below the root, 3..7 at the root, keys drawn
  *    without replacement from a 24-word vocabulary;
  *  - array length 0..4, empty with probability 0.15;
  *  - below the target depth a member is an object (p 0.30), an array
  *    (p 0.15) or a leaf; leaves are strings (0.45), integers (0.35),
  *    booleans (0.12) or JSON nulls (0.08).
  *
  * Rowkeys are `g<group>-<seq>`: the group (3 digits, `Groups` of them)
  * is a hash of the sequence number, so every batch spreads over the
  * whole key space, and a prefix scan of one group returns about
  * 1/`Groups` of the store. */
object Gen {
  val Groups = 256
  val SeqDigits = 7
  val DepthWeights: Seq[(Int, Double)] =
    Seq(1 -> 0.15, 2 -> 0.25, 3 -> 0.25, 4 -> 0.15, 5 -> 0.10, 6 -> 0.10)
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "id", "name", "user", "tags", "items", "meta", "price", "qty", "ok",
    "geo", "lat", "lon", "city", "events", "kind", "ts", "score", "note",
    "attrs", "links", "owner", "size", "flags", "ref")
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 _-"

  def group(seq: Long): Int = {
    // splitmix64 finaliser: a fixed bijective scramble of seq
    var z = seq + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    java.lang.Math.floorMod(z, Groups.toLong).toInt
  }
  def groupPrefix(g: Int): String = f"g$g%03d-"
  def rowkey(seq: Long): String = groupPrefix(group(seq)) + s"%0${SeqDigits}d".format(seq)
}

/** Draws documents `seq`, `seq + 1`, ... from one seeded stream. */
final class Gen(seed: Long) {
  import Gen._
  private val rnd = new SplittableRandom(seed)

  private def pickDepth(): Int = {
    var u = rnd.nextDouble()
    DepthWeights.find { case (_, w) => u -= w; u < 0 }.fold(6)(_._1)
  }

  private def str(sb: StringBuilder): Unit = {
    val n = 3 + rnd.nextInt(14)
    sb.append('"')
    var i = 0
    while (i < n) { sb.append(Alphabet.charAt(rnd.nextInt(Alphabet.length))); i += 1 }
    sb.append('"')
  }

  private def leaf(sb: StringBuilder): Unit = {
    val u = rnd.nextDouble()
    if (u < 0.45) str(sb)
    else if (u < 0.80) sb.append(rnd.nextLong(-1000000L, 1000000000L))
    else if (u < 0.92) sb.append(rnd.nextBoolean())
    else sb.append("null")
  }

  /** A value at `level` (root = 1) that reaches at least `mustReach`
    * nesting levels when `mustReach > level`, never more than `max`. */
  private def value(sb: StringBuilder, level: Int, mustReach: Int, max: Int): Unit = {
    if (mustReach > level || level < max && rnd.nextDouble() < 0.45) {
      if (rnd.nextDouble() < 0.33) array(sb, level + 1, mustReach, max)
      else obj(sb, level + 1, mustReach, max, 1 + rnd.nextInt(5))
    } else leaf(sb)
  }

  private def array(sb: StringBuilder, level: Int, mustReach: Int, max: Int): Unit = {
    val n = if (mustReach > level) 1 + rnd.nextInt(4)
            else if (rnd.nextDouble() < 0.15) 0 else 1 + rnd.nextInt(4)
    sb.append('[')
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(',')
      value(sb, level, if (i == 0) mustReach else 0, max)
      i += 1
    }
    sb.append(']')
  }

  private def obj(sb: StringBuilder, level: Int, mustReach: Int, max: Int, fanout: Int): Unit = {
    // distinct keys: partial Fisher-Yates over the vocabulary
    val keys = Vocab.toArray
    sb.append('{')
    var i = 0
    while (i < fanout) {
      val j = i + rnd.nextInt(keys.length - i)
      val k = keys(j); keys(j) = keys(i); keys(i) = k
      if (i > 0) sb.append(',')
      sb.append('"').append(k).append("\":")
      value(sb, level, if (i == 0) mustReach else 0, max)
      i += 1
    }
    sb.append('}')
  }

  /** The document with sequence number `seq` (drawn in call order). */
  def doc(seq: Long): Doc = {
    val depth = pickDepth()
    val sb = new StringBuilder(256)
    obj(sb, 1, depth, depth, 3 + rnd.nextInt(5))
    Doc(rowkey(seq), 1000000L + seq, sb.toString)
  }

  def docs(from: Long, n: Int): IndexedSeq[Doc] = (0 until n).map(i => doc(from + i))
}
