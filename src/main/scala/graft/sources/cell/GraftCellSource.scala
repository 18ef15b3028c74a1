package graft.sources.cell

import java.util.{Arrays => JArrays}

import scala.collection.JavaConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the engine's HBase cell model — the
  * "HBase table" surface (BASELINE.md's connector approach line),
  * re-expressed as a pluggable Spark source instead of query patterns.
  *
  * Store layout (written by CellStoreStage / the `graftcell` write path):
  * `<path>/region=<k>/` parquet files, rows `(rowkey, family, qualifier,
  * version, value)` sorted by rowkey within each file — the HFile
  * analog: a pre-split table whose files carry tight rowkey ranges.
  *
  * Scale design (the three pruning levels a 100 TB cell store needs):
  *  1. FILE pruning at plan time — the driver reads each file's parquet
  *     FOOTER once (cached per store, the manifest analog) and drops
  *     files whose [min,max] rowkey cannot intersect the pushed rowkey
  *     bounds: the HBase region-seek. `Scan.description()` reports
  *     `PushedFilters` + planned/total file counts so `.explain` shows
  *     the pruning (PLANS.md evidence).
  *  2. ROW-GROUP pruning at read time — the same rowkey bounds become a
  *     parquet `FilterPredicate`, so row groups inside a selected file
  *     are skipped by their statistics (unsigned-lexicographic UTF8
  *     order — identical to Spark's UTF8String comparison semantics).
  *  3. COLUMN pruning — `SupportsPushDownRequiredColumns` narrows the
  *     requested schema of the vectorized parquet reader (Spark's
  *     `ParquetReadSupport` requested-schema key), so unprojected
  *     columns are never decoded (real IO pruning, not a post-hoc drop).
  *
  * Every read decodes columnar through ONE reader
  * ([[CellColumnarPartitionReader]]). Correctness is layout-independent
  * by construction: every ACCEPTED filter is also evaluated exactly per
  * decoded row (UTF8 binary order via [[UTF8String]],
  * [[CellResidual]]), so footer stats / row-group stats only
  * ever skip data, never decide membership; filters the source does not
  * understand are returned to Spark from `pushFilters` and evaluated
  * above the scan as usual.
  */
class GraftCellTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftcell"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftCell.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GraftCellTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

object GraftCell {
  /** Metadata column: which region file a cell was read from — the
    * HBase "which HFile" provenance (cf. Spark's `_metadata.file_path`).
    * Selectable as a hidden column, and REQUIRED by the row-level
    * operation so Spark plans its copy-on-write write through the
    * metadata-projecting task (which strips the internal operation
    * column before rows reach the writer). */
  val FILE_COL = "_region_file"

  /** The cell model — the one schema the reference stores everything in
    * (SURVEY §1.1): nested documents flatten to per-leaf cells. */
  val SCHEMA: StructType = StructType(Seq(
    // all nullable so AppendData accepts any cell-shaped query output
    // (flatten emits non-null keys; the reader handles nulls anyway)
    StructField("rowkey", StringType),
    StructField("family", StringType),
    StructField("qualifier", StringType),
    StructField("version", LongType),
    StructField("value", StringType)))

  /** Byte-wise bound: (bytes, inclusive). Compared unsigned — the order
    * of UTF8String, of parquet UTF8 statistics, and of HBase rowkeys. */
  final case class Bound(key: Array[Byte], inclusive: Boolean)

  /** Rowkey interval [lo, hi] implied by the pushed filters (either side
    * open = None). Conservative: only used to SKIP files/row-groups. */
  final case class KeyRange(lo: Option[Bound], hi: Option[Bound]) {
    def tightenLo(b: Bound): KeyRange = copy(lo = Some(lo match {
      case Some(c) =>
        val cmp = JArrays.compareUnsigned(b.key, c.key)
        if (cmp > 0 || (cmp == 0 && !b.inclusive)) b else c
      case None => b
    }))
    def tightenHi(b: Bound): KeyRange = copy(hi = Some(hi match {
      case Some(c) =>
        val cmp = JArrays.compareUnsigned(b.key, c.key)
        if (cmp < 0 || (cmp == 0 && !b.inclusive)) b else c
      case None => b
    }))
  }
  val FULL_RANGE: KeyRange = KeyRange(None, None)

  private def utf8(s: String): Array[Byte] = UTF8String.fromString(s).getBytes

  /** A string literal's bytes; a `UTF8String` literal carries raw key
    * bytes (a rewrite's range bound need not be valid UTF-8). */
  private object StrLit {
    def unapply(v: Any): Option[Array[Byte]] = v match {
      case s: String     => Some(utf8(s))
      case u: UTF8String => Some(u.getBytes)
      case _             => None
    }
  }

  /** HBase PrefixFilter stopRow: smallest byte string strictly greater
    * than every string with this prefix — increment the last non-0xFF
    * byte, dropping trailing 0xFF bytes; all-0xFF ⇒ unbounded above. */
  def prefixStop(prefix: Array[Byte]): Option[Array[Byte]] = {
    var i = prefix.length - 1
    while (i >= 0 && prefix(i) == 0xFF.toByte) i -= 1
    if (i < 0) None
    else {
      val stop = JArrays.copyOfRange(prefix, 0, i + 1)
      stop(i) = (stop(i) + 1).toByte
      Some(stop)
    }
  }

  /** VALUE-stat truncation bound (r18): manifest entries carry value
    * min/max for file pruning, but values can be document-sized — cap
    * the stored stat at 64 bytes with SOUND truncation: a prefix of
    * the min is ≤ the min (lower bound stays lower), and
    * [[prefixStop]] of the max's prefix is > every string with that
    * prefix ≥ the max (upper bound stays upper; all-0xFF prefix ⇒
    * unbounded ⇒ None, keep). Pruning stays evidence-only either
    * way. */
  private[cell] val STAT_TRUNC = 64
  private[graft] def truncStatMin(b: Array[Byte]): Array[Byte] =
    if (b.length <= STAT_TRUNC) b else JArrays.copyOfRange(b, 0, STAT_TRUNC)
  private[graft] def truncStatMax(b: Array[Byte]): Option[Array[Byte]] =
    if (b.length <= STAT_TRUNC) Some(b)
    else prefixStop(JArrays.copyOfRange(b, 0, STAT_TRUNC))

  /** Unsigned byte order with NULL first — the declared write
    * ordering's order for rowkey, family and qualifier. */
  private[cell] def compareNullsFirst(a: Array[Byte], b: Array[Byte]): Int =
    if (a == null && b == null) 0
    else if (a == null) -1
    else if (b == null) 1
    else JArrays.compareUnsigned(a, b)

  /** HBase FuzzyRowFilter (r17): a FIXED-POSITION wildcard pattern
    * over the rowkey — `?` matches any single byte, every other byte
    * is fixed, and a key matches iff it is at least pattern-length
    * long and agrees at every fixed position (the classic
    * salted-schema scan: `?-2024-06` probes one month across every
    * salt). Pattern bytes are UTF-8. */
  final case class FuzzyKey(bytes: Array[Byte], fixed: Array[Boolean]) {
    def matches(key: Array[Byte]): Boolean = {
      if (key == null || key.length < bytes.length) return false
      var i = 0
      while (i < bytes.length) {
        if (fixed(i) && key(i) != bytes(i)) return false
        i += 1
      }
      true
    }
  }

  object FuzzyKey {
    def parse(pattern: String): FuzzyKey = {
      require(pattern.nonEmpty, "graftcell: empty fuzzy pattern")
      val b = utf8(pattern)
      FuzzyKey(b, b.map(_ != '?'.toByte))
    }

    /** The `fuzzy` option's value: ONE pattern, or a JSON array of
      * patterns OR-ed together — HBase's real FuzzyRowFilter signature
      * takes a LIST of (pattern, mask) pairs (r18: the multi-tenant /
      * multi-month scan, `["?-2024-03","?-2024-11"]`). A key matches
      * the filter iff it matches ANY listed pattern; file pruning is
      * the UNION of the per-pattern survivors.
      *
      * Since r19 each array entry may also be HBase's explicit
      * (pattern, mask) PAIR form — `{"pattern":"a?c","mask":[0,1,0]}`
      * with mask byte 1 = wildcard, 0 = fixed (the
      * `FuzzyRowFilter(List<Pair<byte[],byte[]>>)` signature) — which
      * makes a LITERAL `?` byte at a fixed position expressible; the
      * string form keeps `?` as its wildcard marker. A `[`-leading
      * literal single pattern that does NOT parse as JSON falls back
      * to the single-pattern form (ADVICE r18: `[` is a legal rowkey
      * byte; r17 accepted it bare). */
    def parseList(opt: String): Seq[FuzzyKey] = {
      val node =
        if (!opt.trim.startsWith("[")) null
        else try {
          new com.fasterxml.jackson.databind.ObjectMapper().readTree(opt)
        } catch {
          // not JSON at all ⇒ a literal pattern that happens to start
          // with '[' — the pre-r18 single-pattern contract
          case _: com.fasterxml.jackson.core.JacksonException => null
        }
      if (node == null) Seq(parse(opt))
      else {
        require(node.isArray && node.size() > 0,
          s"graftcell: fuzzy expects a pattern or a non-empty JSON " +
          s"array of patterns, got '$opt'")
        (0 until node.size()).map { i =>
          val e = node.get(i)
          if (e.isTextual) parse(e.asText())
          else {
            require(e.isObject && e.has("pattern") && e.has("mask") &&
                e.get("pattern").isTextual && e.get("mask").isArray,
              s"graftcell: fuzzy array entries must be strings or " +
              s"""{"pattern":…,"mask":[0|1,…]} pairs, got '$e'""")
            val bytes = UTF8String.fromString(e.get("pattern").asText()).getBytes
            val mask = e.get("mask")
            require(mask.size() == bytes.length,
              s"graftcell: fuzzy mask length ${mask.size()} != pattern " +
              s"byte length ${bytes.length} for '$e'")
            val fixed = Array.tabulate(bytes.length) { j =>
              val m = mask.get(j).asInt(-1)
              require(m == 0 || m == 1,
                s"graftcell: fuzzy mask bytes must be 0 (fixed) or 1 " +
                s"(wildcard), got '${mask.get(j)}' in '$e'")
              m == 0
            }
            FuzzyKey(bytes, fixed)
          }
        }
      }
    }
  }

  /** File-level NECESSARY conditions for a fuzzy pattern — the piece
    * the [min,max] interval algebra cannot express for mid-key fixed
    * segments. Two sound prunes:
    *  1. the pattern's LEADING fixed run is a plain prefix interval
    *     ([p, prefixStop(p)) — byte-order math);
    *  2. every key in [min,max] shares min/max's COMMON PREFIX (byte
    *     order: min = C·a…, max = C·b…, min ≤ k ≤ max ⇒ k = C·…), so
    *     a fixed pattern byte INSIDE that common prefix that disagrees
    *     proves the file holds no match — exactly what makes the
    *     salted time-range probe skip every other month's region files
    *     in every salt. Missing stats ⇒ keep (evidence-only, like
    *     every pruning layer). */
  def fuzzyMayMatch(min: Option[Array[Byte]], max: Option[Array[Byte]],
                    f: FuzzyKey): Boolean = {
    val leadLen = f.fixed.takeWhile(identity).length
    if (leadLen > 0) {
      val p = JArrays.copyOfRange(f.bytes, 0, leadLen)
      val r = KeyRange(Some(Bound(p, true)),
                       prefixStop(p).map(Bound(_, false)))
      if (!mayOverlap(min, max, r)) return false
    }
    (min, max) match {
      case (Some(mn), Some(mx)) =>
        var i = 0
        val n = math.min(math.min(mn.length, mx.length), f.bytes.length)
        while (i < n && mn(i) == mx(i)) {
          if (f.fixed(i) && f.bytes(i) != mn(i)) return false
          i += 1
        }
        true
      case _ => true
    }
  }

  /** Fold the accepted filters' constraints on ONE string column into
    * an interval (r16 generalization of the rowkey fold: family and
    * qualifier stats prune with exactly the same math). */
  def colRange(colName: String, filters: Seq[Filter]): KeyRange =
    filters.foldLeft(FULL_RANGE) {
      case (r, EqualTo(c, StrLit(v))) if c == colName =>
        r.tightenLo(Bound(v, true)).tightenHi(Bound(v, true))
      case (r, GreaterThan(c, StrLit(v))) if c == colName =>
        r.tightenLo(Bound(v, false))
      case (r, GreaterThanOrEqual(c, StrLit(v))) if c == colName =>
        r.tightenLo(Bound(v, true))
      case (r, LessThan(c, StrLit(v))) if c == colName =>
        r.tightenHi(Bound(v, false))
      case (r, LessThanOrEqual(c, StrLit(v))) if c == colName =>
        r.tightenHi(Bound(v, true))
      case (r, StringStartsWith(c, p: String)) if c == colName =>
        val lo = r.tightenLo(Bound(utf8(p), true))
        prefixStop(utf8(p)).fold(lo)(s => lo.tightenHi(Bound(s, false)))
      case (r, In(c, vs)) if c == colName &&
          vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        // an IN-list (e.g. a runtime/DPP filter from a join build side)
        // prunes by its [min, max] envelope; membership is exact in eval
        val bs = vs.map(v => utf8(v.asInstanceOf[String]))
        r.tightenLo(Bound(bs.min(UnsignedBytesOrd), true))
          .tightenHi(Bound(bs.max(UnsignedBytesOrd), true))
      case (r, _) => r
    }

  /** The rowkey interval implied by the pushed filters. */
  def keyRange(filters: Seq[Filter]): KeyRange = colRange("rowkey", filters)

  /** True when every filter constrains ONLY the rowkey and is exactly
    * representable as one [lo, hi] interval — the shapes a metadata
    * aggregate can consume whole (IN-lists are pruned by envelope only,
    * so they are NOT range-exact and are excluded). */
  def rowkeyRangeOnly(filters: Seq[Filter]): Boolean = filters.forall {
    case EqualTo("rowkey", _: String)            => true
    case GreaterThan("rowkey", _: String)        => true
    case GreaterThanOrEqual("rowkey", _: String) => true
    case LessThan("rowkey", _: String)           => true
    case LessThanOrEqual("rowkey", _: String)    => true
    case StringStartsWith("rowkey", _: String)   => true
    case IsNotNull("rowkey")                     => true
    case And(l, r) => rowkeyRangeOnly(Seq(l, r))
    case _ => false
  }

  /** REGION-ALIGNED aggregate eligibility: Some(fully-included files)
    * iff EVERY file is provably fully inside or fully outside the
    * filters' rowkey range — then a filtered COUNT(*) is exactly
    * `Σ (rowCount − nullKeys)` over the included files (rowkey
    * predicates exclude NULL rowkeys, which min/max stats cannot see —
    * hence the manifest's nullKeys stat), and MIN/MAX(rowkey) are the
    * extremes of their stats. One straddling file, one missing stat,
    * or one legacy manifest (nullKeys unknown) ⇒ None: the normal scan
    * runs. Sorted non-overlapping region files make full containment
    * the COMMON case for band probes — the HBase coprocessor-count
    * answered from metadata. */
  def alignedFiles(filters: Seq[Filter],
                   metas: Seq[CellFileMeta]): Option[Seq[CellFileMeta]] = {
    if (!rowkeyRangeOnly(filters)) return None
    // Eligibility accepts And(l, r), but colRange's fold has no And
    // case — fold over the FLATTENED conjuncts so a nested
    // And(>=lo, <hi) rowkey filter tightens the interval instead of
    // silently contributing FULL_RANGE (which would count every
    // stats-complete file as fully included and return the
    // unfiltered aggregate).
    val range = keyRange(conjuncts(filters))
    val included = Seq.newBuilder[CellFileMeta]
    metas.foreach { m =>
      if (m.nullKeys.contains(m.rowCount)) {
        // every rowkey NULL: no row can pass a rowkey predicate
      } else (m.minKey, m.maxKey, m.nullKeys) match {
        case (Some(mn), Some(mx), Some(_)) =>
          val loOk = range.lo.forall { b =>
            val c = JArrays.compareUnsigned(mn, b.key)
            c > 0 || (c == 0 && b.inclusive)
          }
          val hiOk = range.hi.forall { b =>
            val c = JArrays.compareUnsigned(mx, b.key)
            c < 0 || (c == 0 && b.inclusive)
          }
          if (loOk && hiOk) included += m
          else if (mayOverlap(Some(mn), Some(mx), range)) return None // straddles
        case _ => return None // stats unknown: not provable
      }
    }
    Some(included.result())
  }

  private[cell] object UnsignedBytesOrd extends Ordering[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int =
      JArrays.compareUnsigned(a, b)
  }

  /** File-level pruning: can a file whose rowkeys span [min,max] hold a
    * row inside `range`? Missing stats ⇒ keep (skip only on evidence). */
  def mayOverlap(min: Option[Array[Byte]], max: Option[Array[Byte]],
                 range: KeyRange): Boolean = {
    val aboveLo = (range.lo, max) match {
      case (Some(Bound(k, incl)), Some(mx)) =>
        val c = JArrays.compareUnsigned(mx, k)
        if (incl) c >= 0 else c > 0
      case _ => true
    }
    val belowHi = (range.hi, min) match {
      case (Some(Bound(k, incl)), Some(mn)) =>
        val c = JArrays.compareUnsigned(mn, k)
        if (incl) c <= 0 else c < 0
      case _ => true
    }
    aboveLo && belowHi
  }

  /** Which filters this source accepts (evaluates exactly itself). */
  def acceptable(f: Filter): Boolean = f match {
    case EqualTo(c, v)            => colType(c).exists(_ == typeOf(v))
    case GreaterThan(c, v)        => colType(c).exists(_ == typeOf(v))
    case GreaterThanOrEqual(c, v) => colType(c).exists(_ == typeOf(v))
    case LessThan(c, v)           => colType(c).exists(_ == typeOf(v))
    case LessThanOrEqual(c, v)    => colType(c).exists(_ == typeOf(v))
    case In(c, vs)                => vs.nonEmpty && vs.forall(v => v != null && colType(c).exists(_ == typeOf(v)))
    case StringStartsWith(c, _)   => colType(c).contains("s")
    case IsNotNull(c)             => colType(c).isDefined
    case IsNull(c)                => colType(c).isDefined
    case And(l, r)                => acceptable(l) && acceptable(r)
    // OR — the HBase MultiRowRangeFilter shape ("several key ranges in
    // one scan", r16): accepted when BOTH sides are, so a two-range
    // probe prunes files as the UNION of its disjuncts instead of
    // full-scanning (file pruning recurses per disjunct; row eval is
    // the exact disjunction)
    case Or(l, r)                 => acceptable(l) && acceptable(r)
    // TRUNCATE TABLE arrives as deleteWhere(AlwaysTrue) — must be
    // accepted AND evaluated true, or a truncate would silently no-op
    case _: AlwaysTrue            => true
    case _: AlwaysFalse           => true
    case _                        => false
  }

  private def colType(c: String): Option[String] = c match {
    case "rowkey" | "family" | "qualifier" | "value" => Some("s")
    case "version"                                   => Some("l")
    case _                                           => None
  }
  private def typeOf(v: Any): String = v match {
    case _: String                                        => "s"
    case _: java.lang.Long | _: java.lang.Integer |
         _: java.lang.Short | _: java.lang.Byte           => "l"
    case _                                                => "?"
  }

  /** Exact row-level evaluation of an accepted filter. `get` returns the
    * column's value as UTF8String (strings) / java.lang.Long (version),
    * or null. Comparison semantics = Spark's (UTF8 binary order). */
  def eval(f: Filter, get: String => Any): Boolean = f match {
    case EqualTo(c, v)            => cmp(get(c), v).contains(0)
    case GreaterThan(c, v)        => cmp(get(c), v).exists(_ > 0)
    case GreaterThanOrEqual(c, v) => cmp(get(c), v).exists(_ >= 0)
    case LessThan(c, v)           => cmp(get(c), v).exists(_ < 0)
    case LessThanOrEqual(c, v)    => cmp(get(c), v).exists(_ <= 0)
    case In(c, vs)                => vs.exists(v => cmp(get(c), v).contains(0))
    case StringStartsWith(c, p)   => get(c) match {
      case s: UTF8String => s.startsWith(UTF8String.fromString(p))
      case _             => false
    }
    case IsNotNull(c)             => get(c) != null
    case IsNull(c)                => get(c) == null
    case And(l, r)                => eval(l, get) && eval(r, get)
    // null-involving sides collapse to false per the pushed-predicate
    // contract, which composes correctly through OR: (null OR true) is
    // TRUE in SQL and (false || true) here; (null OR false) is null ⇒
    // row filtered, and (false || false) filters too
    case Or(l, r)                 => eval(l, get) || eval(r, get)
    // only DELETE's complement reaches here (scans never accept Not):
    // negating the collapsed value keeps a row whose predicate is NULL
    case Not(c)                   => !eval(c, get)
    case _: AlwaysTrue            => true
    case _: AlwaysFalse           => false
    case _                        => false
  }

  /** SQL three-valued logic collapses to false for a pushed predicate:
    * null operand ⇒ row filtered. None = null was involved. */
  private def cmp(cell: Any, lit: Any): Option[Int] = (cell, lit) match {
    case (null, _) | (_, null)          => None
    case (s: UTF8String, v: String)     => Some(s.compareTo(UTF8String.fromString(v)))
    case (s: UTF8String, v: UTF8String) => Some(s.compareTo(v))
    case (l: java.lang.Long, v: Number) => Some(java.lang.Long.compare(l, v.longValue()))
    case _                              => None
  }

  /** The parquet FilterPredicate twin of the rowkey interval, for
    * row-group skipping inside selected files (UTF8 stats order). */
  def parquetRange(range: KeyRange): Option[FilterPredicate] = {
    val col = FilterApi.binaryColumn("rowkey")
    // explicit FilterPredicate ascription: the if/else LUB is parquet's
    // package-private ColumnFilterPredicate → IllegalAccessError if
    // scalac infers it
    val lo = range.lo.map { b =>
      val bin = Binary.fromConstantByteArray(b.key)
      (if (b.inclusive) FilterApi.gtEq(col, bin)
       else FilterApi.gt(col, bin)): FilterPredicate
    }
    val hi = range.hi.map { b =>
      val bin = Binary.fromConstantByteArray(b.key)
      (if (b.inclusive) FilterApi.ltEq(col, bin)
       else FilterApi.lt(col, bin)): FilterPredicate
    }
    (lo, hi) match {
      case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
      case (Some(a), None)    => Some(a)
      case (None, Some(b))    => Some(b)
      case (None, None)       => None
    }
  }

  /** Split nested conjunctions so every conjunct prunes independently
    * (Spark splits top-level ANDs before pushdown, but accepted filters
    * can still arrive as And(...) — e.g. from a runtime filter). */
  def conjuncts(filters: Seq[Filter]): Seq[Filter] = filters.flatMap {
    case And(l, r) => conjuncts(Seq(l, r))
    case f         => Seq(f)
  }

  /** POINT SETS for bucket pruning on BUCKETED stores (HBase
    * salted-scan semantics: a get touches only its salt's store
    * files). Each returned set is a NECESSARY condition "any matching
    * row's rowkey ∈ set" derived from the conjunction: `rowkey = k`
    * and `rowkey IN (...)` contribute their keys; an `Or` contributes
    * the UNION of one necessary set from each side (so a multiget OR
    * of point probes still prunes) and nothing when either side has
    * no point shape; everything else contributes nothing — bucket
    * pruning then simply doesn't engage, it can never widen a result.
    * NULL literals are skipped (a pushed point predicate never
    * matches a NULL rowkey). This layer exists because min/max stats
    * are USELESS on a hash layout — every bucket file spans nearly
    * the whole key range, so without it a point get on a bucketed
    * store reads all n buckets instead of 1. */
  private[cell] def pointSets(filters: Seq[Filter]): Seq[Seq[Array[Byte]]] =
    conjuncts(filters).flatMap {
      case EqualTo("rowkey", v: String) => Seq(Seq(utf8(v)))
      case In("rowkey", vs)
          if vs.nonEmpty && vs.forall(v => v == null || v.isInstanceOf[String]) =>
        Seq(vs.toSeq.collect { case s: String => utf8(s) })
      case Or(l, r) =>
        (pointSets(Seq(l)), pointSets(Seq(r))) match {
          case (ls, rs) if ls.nonEmpty && rs.nonEmpty =>
            Seq(ls.head ++ rs.head)
          case _ => Nil
        }
      case _ => Nil
    }.filter(_.nonEmpty)

  /** Keep `m` under bucket pruning: a file tagged `-b<id>of<n>` (with
    * n matching the table's declared bucket count) can hold a key k
    * only if `GraftBucket.of(k, n) == id`; untagged or foreign-count
    * files carry no evidence and are kept. Mirrors the keep-on-no-
    * evidence rule of every other pruning layer. */
  private[cell] def bucketKeep(m: CellFileMeta,
                               sets: Seq[Seq[Array[Byte]]],
                               n: Int): Boolean =
    GraftBucket.parse(m.path) match {
      case Some((id, bn)) if bn == n =>
        sets.forall(_.exists(k => GraftBucket.of(k, n) == id))
      case _ => true
    }

  /** [[pointSets]]-driven file pruning for a bucketed store: identity
    * when the filter set has no point shape or the store declares no
    * buckets. */
  private[cell] def bucketPrune(metas: Seq[CellFileMeta],
                                filters: Seq[Filter],
                                buckets: Option[Int]): Seq[CellFileMeta] =
    buckets match {
      case Some(n) =>
        val sets = pointSets(filters)
        if (sets.isEmpty) metas else metas.filter(bucketKeep(_, sets, n))
      case None => metas
    }

  /** File-level pruning against the FULL accepted filter set — the
    * HBase MULTI-GET: beyond the folded [lo,hi] interval (`keyRange`),
    * every rowkey IN-list prunes PER KEY — a file survives an IN-list
    * only if at least one listed key falls inside its [min,max]. So
    * scattered point gets seek exactly their own region files instead
    * of the IN-list's [min,max] envelope selecting every region in
    * between (at 100 TB: a 100-key multi-get touches ≤100 region
    * files, not half the table). Conservative like `mayOverlap`:
    * missing stats ⇒ keep; membership stays exact in the reader. */
  def fileMayMatch(min: Option[Array[Byte]], max: Option[Array[Byte]],
                   filters: Seq[Filter]): Boolean = {
    val flat = conjuncts(filters)
    mayOverlap(min, max, keyRange(flat)) && flat.forall {
      case In("rowkey", vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        vs.exists { v =>
          val k = Bound(utf8(v.asInstanceOf[String]), true)
          mayOverlap(min, max, KeyRange(Some(k), Some(k)))
        }
      // an OR conjunct prunes as the UNION of its sides (r16 — the
      // MultiRowRangeFilter): a file survives iff EITHER disjunct could
      // hold a row in it. keyRange above folds no Or constraint (the
      // disjunction has no single [lo,hi]), so this recursion is the
      // only — and exact — pruning an Or contributes.
      case Or(l, r) =>
        fileMayMatch(min, max, Seq(l)) || fileMayMatch(min, max, Seq(r))
      case _ => true
    }
  }

  /** Version interval implied by accepted version filters — the HBase
    * Scan TimeRange. Inclusive bounds; exclusive filters saturate
    * toward keeping (skip-only, like KeyRange). `lo > hi` = provably
    * empty, which is still only used to SKIP files (the reader's exact
    * eval is what decides membership). */
  final case class VerRange(lo: Long, hi: Long)
  val FULL_VER: VerRange = VerRange(Long.MinValue, Long.MaxValue)

  def verRange(filters: Seq[Filter]): VerRange =
    conjuncts(filters).foldLeft(FULL_VER) {
      case (r, EqualTo("version", v: Number)) =>
        val x = v.longValue()
        VerRange(math.max(r.lo, x), math.min(r.hi, x))
      case (r, GreaterThan("version", v: Number)) =>
        val x = v.longValue()
        VerRange(math.max(r.lo, if (x == Long.MaxValue) x else x + 1), r.hi)
      case (r, GreaterThanOrEqual("version", v: Number)) =>
        VerRange(math.max(r.lo, v.longValue()), r.hi)
      case (r, LessThan("version", v: Number)) =>
        val x = v.longValue()
        VerRange(r.lo, math.min(r.hi, if (x == Long.MinValue) x else x - 1))
      case (r, LessThanOrEqual("version", v: Number)) =>
        VerRange(r.lo, math.min(r.hi, v.longValue()))
      case (r, _) => r
    }

  /** TimeRange file pruning: missing version stats ⇒ keep. */
  def verMayOverlap(minV: Option[Long], maxV: Option[Long],
                    r: VerRange): Boolean =
    maxV.forall(_ >= r.lo) && minV.forall(_ <= r.hi)

  /** VALUE point-probe candidate sets (r19): one entry per value
    * equality / IN conjunct. A file survives each entry iff ANY listed
    * candidate may be in its [[CellValueBloom]]. */
  def valuePoints(flat: Seq[Filter]): Seq[Seq[Array[Byte]]] = flat.collect {
    case EqualTo("value", v: String) => Seq(utf8(v))
    case In("value", vs)
        if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      vs.toSeq.map(v => utf8(v.asInstanceOf[String]))
  }

  /** Bloom file pruning: no bloom (legacy / saturated) ⇒ keep. */
  def bloomMayMatch(bloom: Option[Array[Byte]],
                    points: Seq[Seq[Array[Byte]]]): Boolean =
    bloom.isEmpty || points.forall(cands =>
      cands.exists(CellValueBloom.mayContain(bloom.get, _)))

  /** Full file-level pruning over a footer entry: rowkey interval +
    * per-key IN-lists (multi-get) + version TimeRange + per-disjunct
    * OR recursion (which, unlike the byte-level overload above, sees
    * the VERSION stats too — so `version > x OR rowkey < 'c'` prunes
    * on both columns per disjunct). */
  def fileMayMatch(m: CellFileMeta, filters: Seq[Filter]): Boolean = {
    val flat = conjuncts(filters)
    fileMayMatch(m.minKey, m.maxKey, flat) &&
      verMayOverlap(m.minVer, m.maxVer, verRange(flat)) &&
      // r16: FAMILY/QUALIFIER stats prune like rowkey stats — the
      // per-CF store-file analog (a qualifier-only probe skips whole
      // generations written for another column family / column set)
      mayOverlap(m.minFam, m.maxFam, colRange("family", flat)) &&
      mayOverlap(m.minQual, m.maxQual, colRange("qualifier", flat)) &&
      // r18: VALUE stats — the SingleColumnValueFilter analog's file
      // pruning (a time-batched ingest's value band skips other eras'
      // region files without reading a byte)
      mayOverlap(m.minVal, m.maxVal, colRange("value", flat)) &&
      // r19: VALUE bloom — point evidence the range stats can't give
      bloomMayMatch(m.valueBloom, valuePoints(flat)) &&
      flat.forall {
        case Or(l, r) =>
          fileMayMatch(m, Seq(l)) || fileMayMatch(m, Seq(r))
        case _ => true
      }
  }

  /** PRECOMPILED file pruner for a fixed filter set: folds the ranges
    * once and sorts each rowkey IN-list once, so each file tests in
    * O(log k) per IN-list instead of O(k) — the difference between a
    * runtime DPP IN-list of 100k build-side keys costing k·files
    * comparisons (quadratic blowup found by the round-15 semi-join
    * probe: 195 s for a 100k-key DPP over 400k rows) and costing
    * files·log k. Pruning semantics are IDENTICAL to
    * [[fileMayMatch]]: a file survives an IN-list iff at least one
    * listed key falls inside its [min,max]; missing stats keep. */
  final class FilePruner(filters: Seq[Filter]) {
    private val flat = conjuncts(filters)
    private val range = keyRange(flat)
    private val vr = verRange(flat)
    private val famRange = colRange("family", flat)
    private val qualRange = colRange("qualifier", flat)
    private val valRange = colRange("value", flat)
    private val valPoints = valuePoints(flat)
    private val sortedInLists: Seq[Array[Array[Byte]]] = flat.collect {
      case In("rowkey", vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        val a = vs.map(v => utf8(v.asInstanceOf[String]))
        java.util.Arrays.sort(a, UnsignedBytesOrd)
        a
    }
    // Or disjuncts prune as the UNION of their sides, each side its own
    // sub-pruner compiled once (r16 — the MultiRowRangeFilter): a file
    // survives an Or iff EITHER disjunct's full pruning (rowkey range,
    // per-key IN, version TimeRange, nested And/Or) would keep it.
    private val orPruners: Seq[(FilePruner, FilePruner)] = flat.collect {
      case Or(l, r) => (new FilePruner(Seq(l)), new FilePruner(Seq(r)))
    }
    def mayMatch(m: CellFileMeta): Boolean =
      mayOverlap(m.minKey, m.maxKey, range) &&
      verMayOverlap(m.minVer, m.maxVer, vr) &&
      mayOverlap(m.minFam, m.maxFam, famRange) &&
      mayOverlap(m.minQual, m.maxQual, qualRange) &&
      mayOverlap(m.minVal, m.maxVal, valRange) &&
      bloomMayMatch(m.valueBloom, valPoints) &&
      sortedInLists.forall(keys => anyKeyIn(keys, m.minKey, m.maxKey)) &&
      orPruners.forall { case (l, r) => l.mayMatch(m) || r.mayMatch(m) }
    private def anyKeyIn(sorted: Array[Array[Byte]],
                         min: Option[Array[Byte]],
                         max: Option[Array[Byte]]): Boolean =
      (min, max) match {
        case (Some(mn), Some(mx)) =>
          // first key ≥ min, then check it is ≤ max
          var lo = 0
          var hi = sorted.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (JArrays.compareUnsigned(sorted(mid), mn) < 0) lo = mid + 1
            else hi = mid
          }
          lo < sorted.length && JArrays.compareUnsigned(sorted(lo), mx) <= 0
        // ONE-SIDED stats prune against the present bound (ADVICE r15:
        // this used to keep unconditionally while fileMayMatch pruned —
        // now both paths are identical): a key ≥ min exists iff the
        // LARGEST listed key clears the floor; a key ≤ max exists iff
        // the SMALLEST clears the ceiling. `sorted` is never empty
        // (the In collector requires vs.nonEmpty).
        case (Some(mn), None) =>
          JArrays.compareUnsigned(sorted(sorted.length - 1), mn) >= 0
        case (None, Some(mx)) =>
          JArrays.compareUnsigned(sorted(0), mx) <= 0
        case (None, None) => true // no stats ⇒ keep (skip only on evidence)
      }
  }

  /** Compile a filter for per-row evaluation: IN-lists become hash
    * sets (O(1) membership per row — a runtime DPP IN-list can carry
    * 100k+ build-side keys, and the naive `vs.exists` linear probe per
    * row is the quadratic blowup the round-15 probe measured),
    * conjunctions flatten once, everything else delegates to the
    * reference [[eval]]. Semantics identical: string membership is
    * UTF8 equality, numeric membership is long-value equality, a null
    * cell never matches (SQL three-valued logic collapses to false for
    * a pushed predicate). */
  def compile(f: Filter): (String => Any) => Boolean = f match {
    case In(c, vs) =>
      val set = new java.util.HashSet[Any](math.max(8, vs.length * 2))
      vs.foreach {
        case s: String => set.add(UTF8String.fromString(s))
        case n: Number => set.add(java.lang.Long.valueOf(n.longValue()))
        case other     => if (other != null) set.add(other)
      }
      get => { val v = get(c); v != null && set.contains(v) }
    case And(l, r) =>
      val cl = compile(l); val cr = compile(r)
      get => cl(get) && cr(get)
    case Or(l, r) =>
      val cl = compile(l); val cr = compile(r)
      get => cl(get) || cr(get)
    case Not(c) =>
      val cc = compile(c)
      get => !cc(get)
    case other => get => eval(other, get)
  }

  def compileAll(filters: Array[Filter]): Array[(String => Any) => Boolean] =
    filters.map(compile)

  /** The parquet FilterPredicate twin of ALL accepted rowkey
    * constraints, for row-group skipping inside selected files: the
    * folded [lo,hi] interval (stats order = UTF8 binary) AND'd with one
    * parquet `in()` per rowkey IN-list and `eq()` per rowkey equality —
    * which parquet's row-group filter answers from statistics,
    * DICTIONARY pages, and BLOOM FILTERS (the write path enables a
    * rowkey bloom), so a point get skips row groups whose stats
    * straddle the key but whose dictionary/bloom proves absence. */
  def parquetPred(filters: Seq[Filter]): Option[FilterPredicate] = {
    val flat = conjuncts(filters)
    val col = FilterApi.binaryColumn("rowkey")
    val points: Seq[FilterPredicate] = flat.collect {
      case In("rowkey", vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        val set = new java.util.HashSet[Binary]()
        vs.foreach(v =>
          set.add(Binary.fromConstantByteArray(utf8(v.asInstanceOf[String]))))
        FilterApi.in(col, set): FilterPredicate
      case EqualTo("rowkey", v: String) =>
        FilterApi.eq(col, Binary.fromConstantByteArray(utf8(v))): FilterPredicate
      // row groups without a NULL rowkey skip (parquet's eq-null)
      case IsNull("rowkey") =>
        FilterApi.eq(col, null: Binary): FilterPredicate
    }
    // value POINT probes ride the predicate too (r19): parquet answers
    // them from row-group stats, dictionary pages and the value bloom
    // the write path now enables — the row-group half of the
    // SingleColumnValueFilter point probe (file half: manifest bloom)
    val vb = FilterApi.binaryColumn("value")
    val valPointPreds: Seq[FilterPredicate] = flat.collect {
      case EqualTo("value", v: String) =>
        FilterApi.eq(vb, Binary.fromConstantByteArray(utf8(v))): FilterPredicate
      case In("value", vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        val set = new java.util.HashSet[Binary]()
        vs.foreach(v =>
          set.add(Binary.fromConstantByteArray(utf8(v.asInstanceOf[String]))))
        FilterApi.in(vb, set): FilterPredicate
    }
    // version TimeRange rides the same predicate for row-group skipping
    val vr = verRange(flat)
    val vcol = FilterApi.longColumn("version")
    val vpreds: Seq[FilterPredicate] =
      (if (vr.lo != Long.MinValue)
         Seq(FilterApi.gtEq(vcol, java.lang.Long.valueOf(vr.lo)): FilterPredicate)
       else Nil) ++
      (if (vr.hi != Long.MaxValue)
         Seq(FilterApi.ltEq(vcol, java.lang.Long.valueOf(vr.hi)): FilterPredicate)
       else Nil)
    // an Or conjunct maps to a parquet or() when BOTH sides yield a
    // predicate (each side conservative for itself ⇒ the or() is
    // conservative for the disjunction); a side with no parquet-
    // expressible constraint can't skip anything, so the whole Or
    // contributes nothing (r16)
    val orPreds: Seq[FilterPredicate] = flat.flatMap {
      case Or(l, r) =>
        for { a <- parquetPred(Seq(l)); b <- parquetPred(Seq(r)) }
          yield FilterApi.or(a, b)
      case _ => None
    }
    (parquetRange(keyRange(flat)).toSeq ++ points ++ valPointPreds ++
     vpreds ++ orPreds)
      .reduceOption(FilterApi.and)
  }

  /** Columns a filter reads (must be fetched even when pruned away). */
  def referenced(f: Filter): Set[String] = f.references.toSet
}

class GraftCellTable(path: String,
                     pinnedSnapshot: Option[String] = None,
                     pinnedDirs: Option[Seq[CellGenPin]] = None,
                     tableProps: Map[String, String] = Map.empty)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  require(path != null, "graftcell requires a path")
  require(pinnedSnapshot.isEmpty || pinnedDirs.isEmpty,
    "graftcell: a table pins a snapshot OR an explicit dir set, not both")
  override def name(): String =
    s"graftcell.`$path`" + pinnedSnapshot.fold("")(n => s"@$n") +
      pinnedDirs.fold("")(ds => s"@ts[${ds.size} dirs]")

  /** Planner-rule surface (r20 — [[graft.plans.IndexRoute]] consults
    * these to decide whether a value-predicate read on this table can
    * route through a global secondary index): the store path, and
    * whether this is the LIVE view (time-travel tables must never
    * route — the index reflects the live view only). Read-only
    * accessors; no behavior change. */
  private[graft] def storePath: String = path
  private[graft] def isLiveView: Boolean =
    pinnedSnapshot.isEmpty && pinnedDirs.isEmpty

  private def requireLive(op: String): Unit =
    require(pinnedSnapshot.isEmpty && pinnedDirs.isEmpty,
      s"graftcell: $op is not allowed on a time-travel " +
      "(VERSION AS OF / TIMESTAMP AS OF) table")

  /** Bucket count of a BUCKETED table (descriptor property `buckets`,
    * catalog-validated at CREATE) — drives the bucket-clustered write
    * distribution and the scan's key-grouped partitioning report.
    * Path-addressed tables carry no descriptor, hence never bucket. */
  private val buckets: Option[Int] = tableProps.get("buckets").map(_.toInt)

  /** Hidden metadata column `_region_file`: region-file provenance per
    * cell (the `which HFile` question), selectable like Spark's own
    * `_metadata.file_path`, and the row-level operation's required
    * metadata attribute. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftCell.FILE_COL
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "path of the region file this cell was read from"
    })

  /** UPDATE / MERGE INTO (and group-based DELETE fallback) as
    * GROUP-GRANULAR copy-on-write: Spark's row-level rewrite reads the
    * affected region files through [[GraftCellCowScan]] (runtime group
    * filtering on `_region_file` prunes to the files actually holding
    * matched rows — the Iceberg COW shape), recomputes the surviving/
    * updated/inserted rows, and the paired [[GraftCellGroupReplaceWrite]]
    * replaces EXACTLY the scanned files in one commit — `MERGE INTO` is
    * the HBase batch Put (upsert) as SQL, now O(touched regions) per
    * statement instead of O(table). Row-level (non-group) pushdown
    * stays off by design: dropping individual rows on the read side
    * would lose them at the replace commit. (Rowkey-range deletes take
    * the file-granular `deleteWhere` path above; the COW path is for
    * the commands that genuinely rewrite rows.) */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    requireLive("UPDATE/MERGE/DELETE")
    val codecs = CellCodecs.of(tableProps)
    () => new GraftCellRowLevelOperation(path, info.command(), buckets,
                                         codecs)
  }

  /** `DELETE FROM ... WHERE` — the HBase ranged-delete surface, file-
    * granular: footer and bucket pruning select ONLY the region files
    * the predicate can touch, then [[GraftCellMaintenance.rewrite]]
    * runs one task per victim whose reader drops the matching rows
    * (the filters' complement, pushed; a NULL predicate keeps the row
    * — SQL DELETE deletes only WHERE = TRUE), keeping the victim's
    * codec and bucket tag, and publishes the survivors as one
    * `batch_delete_*` dir that replaces every victim: snapshot-pinned
    * victims archive, the travel log records their retirement, and
    * `CALL repair` finishes the commit after a crash, legacy
    * manifest-less dirs included. Single-writer store maintenance. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(GraftCell.acceptable)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireLive("DELETE")
    val spark = org.apache.spark.sql.SparkSession.active
    val pruner = new GraftCell.FilePruner(filters.toSeq)
    // a point DELETE on a bucketed table rewrites only the key's
    // bucket files, not every file whose useless hash-layout [min,max]
    // happens to span the key
    val victims = GraftCell.bucketPrune(
        CellFooterCache.filesOf(path).filter(pruner.mayMatch),
        filters.toSeq, buckets)
      .map(_.path)
    if (victims.isEmpty) return
    // a row survives unless every filter is TRUE for it
    val survives = filters.reduceOption(And).map(Not)
    GraftCellMaintenance.rewrite(spark, path, "delete",
      victims.map(f => CellRewriteTask(Seq(Seq(f)), filter = survives,
        bucket = GraftBucket.parse(f), codec = Some(GraftCellCodecTag.of(f)))),
      CellCodecs.DEFAULT, replaced = victims)
  }

  /** `TRUNCATE TABLE` — the HBase shell `truncate` (drop all data,
    * keep table + descriptor), METADATA-ONLY: overrides the
    * SupportsDelete default, which would route through
    * `deleteWhere(always_true)` and rewrite every region file just to
    * learn all rows match. See [[GraftCellMaintenance.truncate]]. */
  override def truncateTable(): Boolean = {
    requireLive("TRUNCATE")
    GraftCellMaintenance.truncate(path)
    true
  }

  /** Persisted table properties (the HBase table-descriptor policy
    * knobs — TTL, tombstone) + provider, surfaced to SHOW
    * TBLPROPERTIES / DESCRIBE EXTENDED. Catalog-loaded tables carry
    * what the marker persists; path-addressed tables have none. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("provider", "graftcell")
    tableProps.foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def schema(): StructType = GraftCell.SCHEMA
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
                         TableCapability.MICRO_BATCH_READ,
                         TableCapability.BATCH_WRITE,
                         TableCapability.STREAMING_WRITE,
                         TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCellScanBuilder(path,
      pinnedSnapshot.orElse(Option(options.get("snapshot"))),
      Option(options.get("maxPartitionBytes")).map(_.toLong)
        .getOrElse(Long.MaxValue),
      pinnedDirs,
      Option(options.get("sinceSnapshot")),
      buckets,
      Option(options.get("fuzzy")))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    requireLive("write")
    require(info.options().get("snapshot") == null,
            "graftcell: cannot write through a snapshot read option")
    require(info.options().get("sinceSnapshot") == null,
            "graftcell: cannot write through a sinceSnapshot read option")
    // the bucket count and the codecs are the table's descriptor, so a
    // write option naming one fails instead of being ignored
    val refused = info.options().keySet().asScala
      .filter(k => k == "buckets" || CellCodecs.isProp(k))
    require(refused.isEmpty, s"graftcell: ${refused.mkString(", ")} cannot " +
      "be a write option; declare it on a catalog table with TBLPROPERTIES")
    new GraftCellWriteBuilder(path, info.queryId(),
      Option(info.options().get("maxRowsPerFile")).map(_.toLong).getOrElse(-1L),
      buckets, CellCodecs.of(tableProps))
  }
}

/** Named SNAPSHOTS — HBase snapshot semantics with zero data copy: a
  * snapshot is a MANIFEST (`_snapshot_<name>.json` at the store root)
  * pinning the set of committed dir names at creation time. Committed
  * dirs are write-once and published by atomic rename, so the manifest
  * stays valid under any number of later appends; a snapshot read
  * (`.option("snapshot", name)`) plans exactly the pinned dirs through
  * the same footer-pruned scan. Time travel at 100 TB is therefore a
  * metadata operation: create = list + write one small JSON file.
  *
  * Since r17 manifests are FILE-GRANULAR (v2: `{"v":2,"dirs":{dir:
  * [names]}}`) and maintenance rewrites ARCHIVE pinned files instead
  * of deleting them (see [[CellArchive]]) — so compaction, truncate,
  * restore, split and merge no longer invalidate snapshots: a pinned
  * file resolves live-first, then through `_archive/<dir>/`, exactly
  * HBase's archive-dir semantics. Legacy v1 manifests (a JSON array of
  * dir names) keep their dir-granular resolution. The remaining
  * invalidation path is a pin whose file is in NEITHER place (a v1-era
  * loss, or an archive reclaimed by `vacuum`'s drop-invalid flag).
  * Row-level DML is MVCC-complete on every store, legacy
  * manifest-less dirs included: UPDATE/DELETE/MERGE publish their rows
  * in a new batch dir and archive pinned originals, so a snapshot
  * reads its creation-time content through DML as well as through
  * maintenance. */
object GraftCellSnapshot {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def manifest(store: String, name: String): java.io.File = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"graftcell: bad snapshot name '$name'")
    new java.io.File(store, s"_snapshot_$name.json")
  }

  /** Pin the current READ VIEW under `name` — per committed dir, the
    * file NAMES visible to a batch reader right now (manifest entries
    * minus pending retire intents), as a v2 manifest. Atomic publish:
    * tmp file + rename, so a concurrent reader sees old or new
    * manifest, never a torn one. `owner` (r20) records the ABSOLUTE
    * path of the artifact this snapshot serves as a boundary for (an
    * index store) — vacuum decides a boundary's orphanhood by whether
    * that path still exists, never by name heuristics (ADVICE r19: a
    * sibling dir that merely shares a leaf name must not keep a dead
    * boundary alive, and a live non-sibling index must not lose its
    * boundary). Returns the pinned dirs. */
  def create(store: String, name: String,
             owner: Option[String] = None): Seq[String] = {
    val retired = CellRetire.retiredOf(store)
    val dirs = CellFooterCache.committedDirs(store)
    val root = mapper.createObjectNode()
    root.put("v", 2)
    owner.foreach(root.put("owner", _))
    val dnode = root.putObject("dirs")
    dirs.foreach { d =>
      val arr = dnode.putArray(d)
      CellFooterCache.filesUnder(store, d)
        .filterNot(m => retired.contains(m.path))
        .map(m => new java.io.File(m.path).getName).sorted
        .foreach(arr.add)
    }
    CellJson.writeAtomic(java.io.File.createTempFile("_snaptmp_", ".json",
      new java.io.File(store)), manifest(store, name), root)
    dirs
  }

  /** Pin an EXPLICIT dir set in the legacy v1 format (a JSON array of
    * dir names — whole-dir pins). */
  def createPinned(store: String, name: String, pin: Seq[String]): Unit =
    CellJson.writeAtomic(java.io.File.createTempFile("_snaptmp_", ".json",
      new java.io.File(store)), manifest(store, name), pin.toArray)

  /** Drop a snapshot manifest AND reclaim archived files it alone
    * pinned (the HBase archive cleaner runs on snapshot deletion).
    * `sweep = false` defers reclamation to the caller's own sweep —
    * vacuum drops dead manifests mid-pass and counts the whole
    * reclamation in one final sweep. */
  def drop(store: String, name: String, sweep: Boolean = true): Unit = {
    manifest(store, name).delete()
    if (sweep) CellArchive.sweep(store)
    ()
  }

  /** The recorded owner path of a snapshot (r20 — index-sync
    * boundaries record the index store they serve), or None for
    * snapshots created without one (v1, or plain user snapshots). */
  def ownerOf(store: String, name: String): Option[String] = {
    val f = manifest(store, name)
    if (!f.exists()) return None
    val root = mapper.readTree(java.nio.file.Files.readAllBytes(f.toPath))
    if (root.isArray || !root.has("owner")) None
    else Some(root.get("owner").asText())
  }

  /** ATOMICALLY promote snapshot `tmpName` to `name` (replacing any
    * existing manifest under `name`): the publish step of the
    * pin-upper-bound-first sync protocol — the boundary never exists
    * in a torn state, and a writer that committed between the delta
    * scan and this promote lands AFTER the promoted boundary's pinned
    * view, so the NEXT sync picks it up (the ADVICE r19 race: the old
    * advance-by-re-pinning-live silently covered-but-never-indexed
    * such a commit). */
  def promote(store: String, tmpName: String, name: String): Unit = {
    val src = manifest(store, tmpName)
    require(src.exists(), s"graftcell: no snapshot '$tmpName' in $store")
    java.nio.file.Files.move(src.toPath, manifest(store, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Snapshot names of a store, sorted. */
  def names(store: String): Seq[String] =
    Option(new java.io.File(store).listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("_snapshot_") &&
                   f.getName.endsWith(".json"))
      .map(_.getName.stripPrefix("_snapshot_").stripSuffix(".json"))
      .sorted.toSeq

  /** One snapshot's pin map: dir -> Some(pinned file names) for a v2
    * manifest, or None for a legacy v1 whole-dir pin. */
  def pinned(store: String, name: String)
      : Map[String, Option[Set[String]]] = {
    val f = manifest(store, name)
    require(f.exists(), s"graftcell: no snapshot '$name' in $store")
    val root = mapper.readTree(java.nio.file.Files.readAllBytes(f.toPath))
    if (root.isArray)
      root.elements().asScala.map(_.asText() -> None).toMap
    else
      root.get("dirs").properties().asScala.map { e =>
        e.getKey -> Some(e.getValue.elements().asScala
          .map(_.asText()).toSet): (String, Option[Set[String]])
      }.toMap
  }

  /** All snapshots of a store, sorted by name: (name, pinned dirs,
    * missing items) — `missing` lists pins resolving NEITHER live NOR
    * in the archive (v2: "dir/file" per lost file; v1: the dir name).
    * Nonzero = the snapshot is INVALIDATED: it reads partially empty
    * and cannot be restored/cloned/exported. With the r17 archive this
    * only happens to v1-era losses or a vacuumed archive. The HBase
    * shell `list_snapshots`. */
  def list(store: String): Seq[(String, Seq[String], Seq[String])] =
    names(store).map { n =>
      val pins = pinned(store, n)
      val dirsSorted = pins.keys.toSeq.sorted
      val missing = dirsSorted.flatMap { d =>
        pins(d) match {
          case Some(ns) =>
            val resolved = CellArchive.resolvePinned(store, d, Some(ns))
              .map(m => new java.io.File(m.path).getName).toSet
            ns.toSeq.sorted.filterNot(resolved).map(f => s"$d/$f")
          case None =>
            if (new java.io.File(store, d).isDirectory ||
                CellArchive.dirOf(store, d).isDirectory) Nil
            else Seq(d)
        }
      }
      (n, dirsSorted, missing)
    }

  /** CLONE a snapshot into a NEW store — the HBase shell
    * `clone_snapshot`: a fresh table whose content is the pinned
    * generation, with ZERO data copy. Each pinned dir is re-created in
    * the destination with HARD LINKS to the source's data files (the
    * HFile-reference mechanism); the per-dir manifest is COPIED (not
    * linked) because the clone's metadata evolves independently from
    * the first mutation on. The link sharing is safe against every
    * source mutation by inode semantics: DML, compaction, restore and
    * drop write new files and merely unlink old names (the shared
    * inode survives until the clone drops its own link). Refuses unknown or compaction-invalidated snapshots, and a
    * destination that already exists. Returns (dirs, files linked). */
  def clone(store: String, name: String, destStore: String): (Long, Long) = {
    // complete pending retirements first so no intent-listed file can
    // leak into the clone
    CellRetire.repair(store)
    val pinnedAll = requireResolvable(store, name)
    var files = 0L
    pinnedAll.foreach { case (d, metas) =>
      val dstDir = new java.io.File(destStore, d)
      dstDir.mkdirs()
      // pinned files resolve live-first, then through the archive —
      // cloning a compacted-away generation links its archived inodes
      metas.sortBy(_.path).foreach { m =>
        java.nio.file.Files.createLink(
          new java.io.File(dstDir, new java.io.File(m.path).getName).toPath,
          new java.io.File(m.path).toPath)
        files += 1
      }
      writePinnedManifest(store, d, dstDir, metas)
    }
    java.nio.file.Files.write(
      new java.io.File(destStore, "_SUCCESS").toPath, Array.emptyByteArray)
    CellFooterCache.invalidate(destStore)
    (pinnedAll.size.toLong, files)
  }

  /** Write the manifest of `dst`, a clone or export of pinned dir `d`,
    * from the resolved `metas` (not copied: a partially archived source
    * dir has no single manifest that matches the pinned view), stamped
    * from `d`'s live manifest, else its archived one. A legacy
    * manifest-less dir gets none and falls back to footers. */
  private def writePinnedManifest(store: String, d: String,
                                  dst: java.io.File,
                                  metas: Seq[CellFileMeta]): Unit =
    CellManifest.read(new java.io.File(store, d))
      .orElse(CellManifest.read(CellArchive.dirOf(store, d)))
      .foreach { m =>
        dst.mkdirs()
        CellManifest.write(dst, m.committedAtMicros, metas)
      }

  /** Resolve every pin of snapshot `name` through live-then-archive,
    * refusing (with the historical 'invalidated' wording) if anything
    * is in neither place — the one remaining way a snapshot dies. */
  private def requireResolvable(store: String, name: String)
      : Seq[(String, Seq[CellFileMeta])] = {
    val pins = pinned(store, name)
    val resolved = pins.keys.toSeq.sorted.map { d =>
      d -> CellArchive.resolvePinned(store, d, pins(d))
    }
    val missing = resolved.flatMap { case (d, metas) =>
      pins(d) match {
        case Some(ns) =>
          val got = metas.map(m => new java.io.File(m.path).getName).toSet
          ns.toSeq.sorted.filterNot(got).map(f => s"$d/$f")
        case None =>
          if (new java.io.File(store, d).isDirectory ||
              CellArchive.dirOf(store, d).isDirectory) Nil
          else Seq(d)
      }
    }
    require(missing.isEmpty,
      s"graftcell: snapshot '$name' was invalidated — pinned files " +
      s"exist neither live nor archived: ${missing.mkString(", ")}")
    resolved
  }

  /** EXPORT a snapshot to an EXTERNAL location as a standalone,
    * immediately-readable graftcell store — the HBase `ExportSnapshot`
    * job: where clone's hard links cannot reach (another filesystem /
    * cluster / backup volume), export pays the byte copy but pays it
    * DISTRIBUTED — one Spark task per region file, so a 100 TB backup
    * moves at the cluster's aggregate bandwidth, not the driver's.
    * Completes pending retirements first (no intent-listed file can
    * leak in), refuses invalidated snapshots; a destination carrying a
    * completed export (`_SUCCESS`) is refused, a PARTIAL one (crashed
    * mid-export — identified by the `_EXPORTING` intent marker written
    * before the first byte) is wiped and redone, and any other
    * non-empty directory is USER DATA and is refused, never deleted.
    * Per-dir manifests are
    * copied verbatim (file names are dir-relative), so the exported
    * store plans from manifests exactly like the source; legacy
    * manifest-less dirs export as-is and fall back to footers.
    *
    * `since` turns it into an INCREMENTAL backup — export only the
    * window dirs(name) − dirs(since), i.e. the generations committed
    * between two named snapshots: nightly snapshot + incremental
    * export ships only last night's batches to the backup volume, and
    * the window is reproducible (both bounds are named manifests).
    * Each incremental lands as a standalone readable store of its
    * window; base + incrementals side by side reconstruct the table.
    * Returns (dirs, files, bytes copied). */
  def export(spark: org.apache.spark.sql.SparkSession, store: String,
             name: String, dest: String,
             since: Option[String] = None): (Long, Long, Long) = {
    CellRetire.repair(store)
    val sinceDirs = since.map(dirs(store, _).toSet).getOrElse(Set.empty)
    val pinned = requireResolvable(store, name)
      .filterNot { case (d, _) => sinceDirs(d) }
    val destDir = new java.io.File(dest)
    require(!new java.io.File(destDir, "_SUCCESS").exists(),
      s"graftcell: destination $dest already holds a completed export")
    // only a directory THIS protocol started (it carries the
    // `_EXPORTING` intent marker, written before the first byte) may
    // be wiped as a crashed partial — an arbitrary pre-existing
    // non-empty directory is USER DATA and is refused, never deleted
    val intent = new java.io.File(destDir, "_EXPORTING")
    if (destDir.exists()) {
      val entries = Option(destDir.listFiles).getOrElse(Array.empty)
      if (intent.exists()) { // crashed earlier export: wipe and redo
        FileUtils.deleteQuietly(destDir)
      } else require(entries.isEmpty,
        s"graftcell: destination $dest exists and is not a graftcell " +
        "export in progress — refusing to overwrite")
    }
    destDir.mkdirs()
    java.nio.file.Files.write(intent.toPath, Array.emptyByteArray)
    // pinned files resolve live-first then through the archive, so an
    // exported backup of a compacted-away generation still ships it
    val files: Seq[(String, String)] = pinned.flatMap { case (d, metas) =>
      metas.sortBy(_.path)
        .map(m => (m.path, s"$d/${new java.io.File(m.path).getName}"))
    }
    val bytes =
      if (files.isEmpty) 0L
      else spark.sparkContext.parallelize(files, files.size).map {
        case (src, rel) =>
          val out = new java.io.File(dest, rel)
          java.nio.file.Files.createDirectories(out.getParentFile.toPath)
          java.nio.file.Files.copy(new java.io.File(src).toPath, out.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          out.length()
      }.collect().sum
    pinned.foreach { case (d, metas) =>
      writePinnedManifest(store, d, new java.io.File(destDir, d), metas)
    }
    intent.delete()
    java.nio.file.Files.write(
      new java.io.File(destDir, "_SUCCESS").toPath, Array.emptyByteArray)
    CellFooterCache.invalidate(dest)
    (pinned.size.toLong, files.size.toLong, bytes)
  }

  /** RESTORE the store to a named snapshot's pinned dir set — the HBase
    * shell `restore_snapshot`, the verb users reach for after a bad
    * batch. Zero data copy, crash-safe, and atomic for readers:
    *
    *  1. refuse if the snapshot is unknown or INVALIDATED (a pinned dir
    *     was removed by compaction — there is nothing to restore to);
    *  2. publish an EMPTY generation whose RETIRE INTENT lists every
    *     file of the post-snapshot ("orphan") dirs — ONE atomic rename,
    *     and from that instant every batch reader sees exactly the
    *     snapshot's file set (pinned dirs are never touched, so the
    *     snapshot itself stays valid);
    *  3. delete the orphan files/dirs and drop the intent — a crash
    *     anywhere in this half is completed by `CALL repair`.
    *
    * Like compaction this is single-writer store maintenance. Since
    * r17 the archive makes restore TOTAL over maintenance history:
    * pinned generations a compaction/truncate retired are REVIVED from
    * `_archive/` (hard links back under their original dir names —
    * metadata-only), and OTHER snapshots pinning the retired orphan
    * dirs stay valid because the orphan retirement itself archives
    * (see [[CellArchive]]). Since r18 DML retirements archive too, so
    * a restore also rolls back post-snapshot UPDATE/DELETE/MERGE. A
    * crash mid-restore
    * leaves a store readable without the not-yet-revived archived
    * files; re-running the restore completes it (the archive links are
    * never consumed, only copied). Returns (pinned dirs, orphan files
    * retired). */
  def restore(store: String, name: String): (Long, Long) = {
    // complete any pending retirement first: the orphan listing below
    // must not resurrect files an interrupted group-replace already
    // excluded
    CellRetire.repair(store)
    val resolved = requireResolvable(store, name)
    val pinnedSet = resolved.map(_._1).toSet
    val orphans = CellFooterCache.committedDirs(store)
      .filterNot(pinnedSet)
    val orphanFiles = orphans.map(CellFooterCache.filesUnder(store, _).size).sum
    // the revival's travel-log event time: the orphan cut's publish
    // stamp when one happens, else a fresh monotonic stamp. The orphan
    // dirs leave the live set entirely (a data-less one, e.g. an older
    // restore marker, too), so the live dir set IS the pinned set +
    // this marker
    var reviveStamp = -1L
    if (orphans.nonEmpty)
      reviveStamp = GraftCellMaintenance.publishReplacement(store,
        GraftCellMaintenance.freshDir("restore"), Nil, replacedDirs = orphans)
    // REVIVE archived pins AFTER the orphan cut (never alongside the
    // replacements that retired them — no double-count window): a
    // fully retired dir comes back by one staged rename; a partially
    // retired one gets its archived files hard-linked back in and the
    // live manifest refolded
    resolved.foreach { case (d, metas) =>
      val archived = metas.filter(_.path.contains(
        java.io.File.separator + CellArchive.DIR + java.io.File.separator))
      if (archived.nonEmpty) {
        if (reviveStamp < 0L) reviveStamp = CellManifest.nextCommitStamp(store)
        val liveDir = new java.io.File(store, d)
        if (!liveDir.isDirectory) {
          val stage = new java.io.File(store, s"_revive_$d")
          FileUtils.deleteQuietly(stage)
          stage.mkdirs()
          archived.foreach { m =>
            java.nio.file.Files.createLink(
              new java.io.File(stage, new java.io.File(m.path).getName).toPath,
              new java.io.File(m.path).toPath)
          }
          val stamp = CellManifest.read(CellArchive.dirOf(store, d))
            .map(_.committedAtMicros)
            .getOrElse(CellManifest.nextCommitStamp(store))
          CellManifest.write(stage, stamp, archived)
          java.nio.file.Files.move(stage.toPath, liveDir.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          ()
        } else {
          archived.foreach { m =>
            val link = new java.io.File(liveDir, new java.io.File(m.path).getName)
            if (!link.exists())
              java.nio.file.Files.createLink(link.toPath,
                new java.io.File(m.path).toPath)
          }
          CellManifest.read(liveDir).foreach { data =>
            val have = data.files.map(m => new java.io.File(m.path).getName).toSet
            val add = archived.filterNot(m =>
              have.contains(new java.io.File(m.path).getName))
            if (add.nonEmpty)
              CellManifest.write(liveDir, data.committedAtMicros,
                                 data.files ++ add)
          }
        }
        // travel log (r18): the archived files re-entered the live view
        // here — clock travel replays this as an IN event
        CellTravelLog.revive(store, d,
          archived.map(m => new java.io.File(m.path).getName), reviveStamp)
      }
    }
    CellFooterCache.invalidate(store)
    (resolved.size.toLong, orphanFiles.toLong)
  }

  /** The dir set a snapshot pinned; error if the snapshot is unknown. */
  def dirs(store: String, name: String): Seq[String] =
    pinned(store, name).keys.toSeq.sorted
}

/** GROUP-GRANULAR copy-on-write row-level operation (UPDATE / MERGE /
  * group-based DELETE): the rewrite unit is the REGION FILE, not the
  * table. Spark's `RowLevelOperationRuntimeGroupFiltering` rule plans a
  * matching-rows subquery over the NORMAL (fully pruned) scan
  * projecting `_region_file`, and delivers the distinct file set to the
  * COW scan as a runtime IN filter ([[SupportsRuntimeV2Filtering]]) —
  * the same shape as Spark's own DPP, with the region file as the
  * "partition". The COW scan then plans ONLY those files, every row of
  * them flows through the MERGE/UPDATE projection, and the paired
  * write REPLACES exactly the scanned files: publish the rewritten
  * rows (plus NOT-MATCHED inserts) as one new batch dir, delete the
  * scanned region files, fold the removals into their dirs' persisted
  * manifests. A one-row UPDATE on a 100 TB store therefore rewrites
  * one region file, not the table (the write amplification the r14
  * verdict graded `weak`).
  *
  * Correct by construction at BOTH ends of the pruning spectrum:
  *  - no runtime filter arrives (rule disabled, or a MERGE with
  *    NOT MATCHED BY SOURCE arms, where every target row is a
  *    candidate and Spark rightly plans the full scan) ⇒ the scan
  *    feeds the whole store and the write replaces the whole store —
  *    the old full-table behavior;
  *  - a runtime filter arrives ⇒ unscanned files are UNTOUCHED
  *    (spec-pinned mtime-identical), and scanned-but-unchanged rows
  *    are carried over verbatim by Spark's rewrite plan.
  * The invariant the connector owns is exactly "replace what was
  * scanned" — which files were scanned is read from the SAME scan
  * instance at commit time, after the runtime filter has landed. */
class GraftCellRowLevelOperation(
    path: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    private[cell] val buckets: Option[Int] = None,
    private[cell] val codecs: CellCodecs = CellCodecs.DEFAULT)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  /** The COW scan of this operation — set when the scan builds, read
    * by the write's commit (scan planning always precedes commit). */
  @volatile private[cell] var cowScan: GraftCellCowScan = _

  /** Register the operation's one COW scan. The commit reads the
    * replace set from this instance, so a SECOND distinct instance
    * (plan re-build, plan copy) would make "which scan executed?"
    * ambiguous — worst case the commit deletes files the executed scan
    * never planned (data loss). Fail loudly instead (ADVICE r15); the
    * builder caches its scan, so repeated build() on one builder stays
    * legal. */
  private[cell] def registerCowScan(scan: GraftCellCowScan): Unit =
    synchronized {
      require(cowScan == null || (cowScan eq scan),
        "graftcell: a second COW scan instance was built for one " +
        "row-level operation — the group-replace commit's file set " +
        "would be ambiguous; refusing rather than risking deletion of " +
        "unscanned files")
      cowScan = scan
    }

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCellCowScanBuilder(path, this)

  /** Require `_region_file`: beyond genuine provenance, a non-empty
    * metadata set makes Spark route the copy-on-write write through its
    * metadata-projecting task, which strips the internal operation
    * column before rows reach the writer (the plain task would hand
    * the writer mis-shaped rows). It is also the group-filter
    * attribute the runtime filtering rule builds its subquery on. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(GraftCell.FILE_COL))

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val op = this
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new GraftCellGroupReplaceWrite(path, info.queryId(), op)
    }
  }

  override def description(): String = s"GraftCellRowLevelOperation[$cmd]"
}

/** The COW read side: the scanned (to-be-replaced) region files through
  * the same partition reader as the normal scan. NO filter pushdown —
  * row-level pruning would drop rows the replace-commit still owns —
  * but GROUP pruning via the runtime `_region_file` IN filter is safe
  * and is the whole point (see [[GraftCellRowLevelOperation]]). Column
  * pruning IS supported (Spark prunes to table columns + the required
  * `_region_file` metadata attribute). */
class GraftCellCowScanBuilder(path: String, op: GraftCellRowLevelOperation)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = GraftCell.SCHEMA
  private var built: GraftCellCowScan = _
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = {
    // one scan per builder: repeated build() returns the SAME instance
    // (and registration tolerates it); a genuinely second instance is
    // rejected by registerCowScan — see its scaladoc
    if (built == null) {
      built = new GraftCellCowScan(path, required)
      op.registerCowScan(built)
    }
    built
  }
}

class GraftCellCowScan(path: String, required: StructType)
    extends Scan with Batch with SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.expressions.{Expression => VExpression, Expressions, Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  /** The store's file set, frozen at first use so scan planning and
    * the write's replace-commit see the same list. */
  private lazy val all = CellFooterCache.filesOf(path)

  /** Runtime group filter: Some(files to scan), None = no filter ⇒
    * full store (the conservative default). */
  @volatile private var selected: Option[Set[String]] = None

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftCell.FILE_COL))

  private def stringOf(v: Any): String = v match {
    case u: UTF8String => u.toString
    case s: String     => s
    case other         => String.valueOf(other)
  }

  /** Values of an IN / = predicate on `_region_file`, else None. */
  private def filePredValues(p: Predicate): Option[Seq[String]] = {
    def isFileCol(e: VExpression): Boolean = e match {
      case r: NamedReference =>
        r.fieldNames.length == 1 && r.fieldNames()(0) == GraftCell.FILE_COL
      case _ => false
    }
    def lit(e: VExpression): Option[String] = e match {
      case l: Literal[_] => Option(l.value).map(stringOf)
      case _             => None
    }
    p.name() match {
      case "IN" if p.children().nonEmpty && isFileCol(p.children()(0)) =>
        val vs = p.children().drop(1).toSeq.map(lit)
        if (vs.forall(_.isDefined)) Some(vs.flatten) else None
      case "=" if p.children().length == 2 && isFileCol(p.children()(0)) =>
        lit(p.children()(1)).map(Seq(_))
      case _ => None
    }
  }

  override def filter(predicates: Array[Predicate]): Unit = {
    // recognized predicates AND-intersect; unrecognized ones are
    // IGNORED, which is safe here: scanning more files only means the
    // write replaces more files with identical content
    val sets = predicates.toSeq.flatMap(filePredValues).map(_.toSet)
    if (sets.nonEmpty) selected = Some(sets.reduce(_ intersect _))
  }

  /** The files this scan plans — exactly what the paired write must
    * replace. Read by the commit AFTER execution, when the runtime
    * filter (if any) has long since landed. */
  private[cell] def scannedFiles: Seq[String] = selected match {
    case Some(set) => all.map(_.path).filter(set.contains)
    case None      => all.map(_.path)
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val chosen = selected match {
      case Some(set) => all.filter(m => set.contains(m.path))
      case None      => all
    }
    val fetch = GraftCell.SCHEMA.fields.map(_.name)
      .filter(required.fieldNames.toSet)
    // COW reads carry NO row-level residual work by design (group
    // pruning only): the reader hands out its zero-copy projected view
    chosen.map(m =>
      CellInputPartition(m.path, fetch, required.fieldNames,
                         Array.empty): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CellPartitionReaderFactory()

  override def description(): String =
    s"GraftCellCowScan path=$path (group-granular copy-on-write read), " +
    s"ReadSchema: ${required.catalogString}, " +
    s"runtimeGroupFilter: ${scannedFiles.size}/${all.size} region files"
}

/** The replace side of the group-granular COW: publish the rewritten
  * rows as one new batch dir whose publish retires EXACTLY the region
  * files the paired scan planned ([[GraftCellMaintenance.publishReplacement]]
  * — the same atomic rename and persisted manifest as every other
  * write). The layout is [[GraftCellWrite]]'s declared one: bucketed
  * tables re-cluster on the descriptor's bucket transform
  * (catalog-routed DML always has the FunctionCatalog in scope), so
  * UPDATE/MERGE/stream-apply PRESERVE the storage-partitioned-join
  * layout — the HBase salt survives a Put exactly as it survives a
  * compaction; unbucketed tables keep the HFile range shuffle. Like
  * DELETE and compaction this is single-writer store maintenance:
  * from the rename onward readers exclude the replaced files, and
  * `CALL repair` finishes a retirement a crash interrupted. */
class GraftCellGroupReplaceWrite(path: String, queryId: String,
                                 op: GraftCellRowLevelOperation)
    extends GraftCellWrite(path, queryId, truncate = false,
                           buckets = op.buckets, codecs = op.codecs) {
  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
    new GraftCellGroupReplaceBatchWrite(path, queryId, op)

  override def description(): String =
    s"GraftCellGroupReplaceWrite path=$path"
}

class GraftCellGroupReplaceBatchWrite(path: String, queryId: String,
                                      op: GraftCellRowLevelOperation)
    extends GraftCellBatchWrite(path, queryId, truncate = false,
                                buckets = op.buckets, codecs = op.codecs) {
  import org.apache.spark.sql.connector.write.WriterCommitMessage

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // the paired COW scan must exist: its scanned-file set IS the
    // replace set. Committing without it would append the rewritten
    // rows on top of the originals — fail loudly instead of
    // duplicating silently (cannot happen in a well-formed ReplaceData
    // plan, which always builds scan before write).
    require(op.cowScan != null,
      "graftcell: group-replace commit without its paired COW scan")
    // replaced names never return (rewritten rows publish under NEW
    // names in the new batch dir), so an archived old name can never
    // collide with a live one; snapshot-pinned victims are archived
    // (r18 — MVCC under DML), so a snapshot reads its creation-time
    // content through UPDATE / MERGE / group DELETE as it does through
    // compaction
    GraftCellMaintenance.publishReplacement(path, s"batch_$queryId",
      CellFilesCommitted.all(messages), op.cowScan.scannedFiles)
    FileUtils.deleteQuietly(tmpDir)
  }
}

/** Row stream over one CHAIN of key-disjoint region files in key order
  * — the input side of every [[GraftCellMaintenance.rewrite]]: the
  * files are read one after another through the scan's vectorized
  * reader with `filters` pushed (row-group pruning, exact residual).
  * With `bucket` = (b, n), a file not tagged with bucket count n yields
  * only bucket b's rows. `row` is valid until the next advance; the
  * cell-key components are snapshotted for the k-way heap. */
private[cell] final class CellRowStream(files: Seq[String],
                                        filters: Array[Filter] = Array.empty,
                                        bucket: Option[(Int, Int)] = None) {
  import CellWriteSupport._
  private val rest = files.iterator
  private var reader: CellColumnarPartitionReader = _
  // the bucket a foreign-count file is filtered to; -1 keeps every row
  private var onlyBucket = -1
  private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _
  private var n = 0
  private var r = 0
  var row: InternalRow = _
  var kb: Array[Byte] = _
  var fb: Array[Byte] = _
  var qb: Array[Byte] = _
  var verNull = true
  var ver = 0L

  def advance(): Boolean = {
    do {
      while (batch == null || r >= n) {
        if (reader != null && reader.next()) {
          batch = reader.get(); n = batch.numRows(); r = 0
        } else {
          close()
          if (!rest.hasNext) { row = null; return false }
          val file = rest.next()
          val cols = GraftCell.SCHEMA.fieldNames
          reader = new CellColumnarPartitionReader(
            CellInputPartition(file, cols, cols, filters))
          onlyBucket = bucket.filterNot(b =>
            GraftBucket.parse(file).exists(_._2 == b._2)).fold(-1)(_._1)
        }
      }
      row = batch.getRow(r); r += 1
      kb = if (row.isNullAt(K_IDX)) null else row.getUTF8String(K_IDX).getBytes
    } while (onlyBucket >= 0 && GraftBucket.of(kb, bucket.get._2) != onlyBucket)
    fb = if (row.isNullAt(F_IDX)) null else row.getUTF8String(F_IDX).getBytes
    qb = if (row.isNullAt(Q_IDX)) null else row.getUTF8String(Q_IDX).getBytes
    verNull = row.isNullAt(V_IDX)
    ver = if (verNull) 0L else row.getLong(V_IDX)
    true
  }

  def close(): Unit =
    if (reader != null) { reader.close(); reader = null; batch = null }
}

/** Which rows of one cell-key group a rewrite writes: the group's rows
  * arrive copied and in cell-key order, and the kept ones leave in that
  * order (major compaction's GC rule). */
private[cell] trait CellKeep extends Serializable {
  def apply(group: scala.collection.IndexedSeq[InternalRow]): Iterable[InternalRow]
}

/** One task of a [[GraftCellMaintenance.rewrite]]: input files as
  * key-disjoint `chains` (each in key order) and contiguous ascending
  * rowkey `ranges`, each written to its own outputs. `filter` drops
  * rows by the reader's exact residual (DELETE's complement);
  * `bucket` = (b, n) tags outputs `-b<b>of<n>` and filters
  * foreign-count inputs to bucket b; `codec` overrides the rewrite's
  * codecs; `keep` filters each cell-key group (None: verbatim). */
private[cell] final case class CellRewriteTask(
    chains: Seq[Seq[String]],
    ranges: Seq[GraftCell.KeyRange] = Seq(GraftCell.FULL_RANGE),
    filter: Option[Filter] = None,
    bucket: Option[(Int, Int)] = None,
    codec: Option[org.apache.parquet.hadoop.metadata.CompressionCodecName] = None,
    keep: Option[CellKeep] = None)

/** The executor side of [[GraftCellMaintenance.rewrite]] (HBase's
  * compaction scanner): ONE pass per task, a k-way heap merge of its
  * chains on the full cell key (NULLS FIRST, ties by chain index),
  * optionally through `keep` per cell-key group, each row routed to
  * its range's [[CellDataWriter]] (codec-pure sinks, bucket tags, no
  * file for an empty range). Only a `keep` group is buffered. */
object CellRegionRewrite {
  import GraftCell.{Bound, KeyRange}

  /** The outputs of task `t`; its ranges write as output ids
    * `firstId`, `firstId + 1`, …. */
  private[cell] def run(t: CellRewriteTask, firstId: Int, tmpDir: String,
                        codecs: CellCodecs): Seq[CellFileMeta] = {
    val filters = rangeFilters(KeyRange(t.ranges.head.lo, t.ranges.last.hi))
    val streams = t.chains
      .map(new CellRowStream(_, filters ++ t.filter, t.bucket)).toArray
    val outs = t.ranges.indices.map(j => new CellDataWriter(tmpDir,
      firstId + j, buckets = t.bucket.map(_._2),
      codecs = t.codec.fold(codecs)(CellCodecs(_, Map.empty))))
    // rows arrive in key order, so the range index only moves up
    var cur = 0
    def out(kb: Array[Byte]): CellDataWriter = {
      while (cur + 1 < outs.size && !below(kb, t.ranges(cur).hi.get)) cur += 1
      outs(cur)
    }
    def cellCmp(a: CellRowStream, k: Array[Byte], f: Array[Byte],
                q: Array[Byte]): Int = {
      var c = GraftCell.compareNullsFirst(a.kb, k)
      if (c == 0) c = GraftCell.compareNullsFirst(a.fb, f)
      if (c == 0) c = GraftCell.compareNullsFirst(a.qb, q)
      c
    }
    // the full cell key: (rowkey, family, qualifier), then version
    def cmpS(a: CellRowStream, b: CellRowStream): Int = {
      val c = cellCmp(a, b.kb, b.fb, b.qb)
      if (c != 0) c
      else if (a.verNull || b.verNull)
        java.lang.Boolean.compare(!a.verNull, !b.verNull)
      else java.lang.Long.compare(a.ver, b.ver)
    }
    val group = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var (gk, gf, gq) = (null: Array[Byte], null: Array[Byte], null: Array[Byte])
    def flush(): Unit = if (group.nonEmpty) {
      t.keep.get(group).foreach(out(gk).write)
      group.clear()
    }
    try {
      val heap = new java.util.PriorityQueue[Integer](
        math.max(1, streams.length),
        (x: Integer, y: Integer) => {
          val c = cmpS(streams(x), streams(y))
          if (c != 0) c else Integer.compare(x, y)
        })
      streams.indices.foreach(i => if (streams(i).advance()) heap.add(i))
      while (!heap.isEmpty) {
        val i = heap.poll()
        val st = streams(i)
        if (t.keep.isEmpty) out(st.kb).write(st.row)
        else {
          if (group.nonEmpty && cellCmp(st, gk, gf, gq) != 0) flush()
          if (group.isEmpty) { gk = st.kb; gf = st.fb; gq = st.qb }
          group += st.row.copy()
        }
        if (st.advance()) heap.add(i)
      }
      flush()
      CellFilesCommitted.all(outs.map(_.commit()).toArray)
    } catch { case e: Throwable => outs.foreach(_.abort()); throw e }
    finally streams.foreach(_.close())
  }

  /** Is `kb` below the upper bound `hi`? NULL rowkeys sort first. */
  private def below(kb: Array[Byte], hi: Bound): Boolean = kb == null || {
    val c = JArrays.compareUnsigned(kb, hi.key)
    c < 0 || (c == 0 && hi.inclusive)
  }

  /** A range as pushed rowkey filters (UTF8String literals: bounds are
    * raw bytes); a range open below keeps the NULL rowkeys. */
  private def rangeFilters(r: KeyRange): Array[Filter] = {
    def lit(b: Bound) = UTF8String.fromBytes(b.key)
    val lo = r.lo.map(b =>
      if (b.inclusive) GreaterThanOrEqual("rowkey", lit(b))
      else GreaterThan("rowkey", lit(b)))
    val hi = r.hi.map { b =>
      val f = if (b.inclusive) LessThanOrEqual("rowkey", lit(b))
              else LessThan("rowkey", lit(b))
      if (r.lo.isEmpty) Or(IsNull("rowkey"), f) else f
    }
    (lo ++ hi).toArray[Filter]
  }
}

/** Store maintenance beyond a single query — the HBase housekeeping
  * the region server owns. */
object GraftCellMaintenance {

  /** THE STORE'S ONE PUBLISH STEP — every commit (batch and streaming
    * writes, truncate overwrites, group-replace DML, and through
    * [[rewrite]] every layout-maintenance verb and ranged DELETE) goes
    * through it. `newFiles` (already written to a tmp location; may be
    * empty) move into a hidden `_stage_*` dir with their manifest and,
    * when anything is replaced, a RETIRE INTENT ([[CellRetire]]) listing
    * `replaced` plus every file of `replacedDirs`, and `replacedDirs`
    * themselves; ONE rename to `dest` (a `batch_*` name) makes the
    * batch visible. Readers list non-hidden dirs only, so a visible
    * batch dir is always complete, and from the rename onward batch
    * readers exclude the replaced files. [[CellRetire.complete]] then
    * retires what the intent lists — the same call `CALL repair` makes
    * if a crash stops the publish after the rename. A plain append
    * (nothing replaced) stops at the rename. Single-writer, like
    * compaction. Returns the commit stamp (the travel-log superseding
    * point). */
  private[cell] def publishReplacement(store: String, dest: String,
                                       newFiles: Seq[CellFileMeta],
                                       replaced: Seq[String] = Nil,
                                       replacedDirs: Seq[String] = Nil)
      : Long = {
    val stage = new java.io.File(store, "_stage_" + dest.stripPrefix("batch_"))
    val destDir = new java.io.File(store, dest)
    // a commit retried after a crash mid-commit must not collide with
    // the dead attempt's leftovers: per-file ATOMIC_MOVE (no
    // REPLACE_EXISTING) would throw on same-named parts — start clean
    FileUtils.deleteQuietly(stage)
    stage.mkdirs()
    newFiles.foreach { m =>
      val src = new java.io.File(m.path)
      java.nio.file.Files.move(src.toPath,
        new java.io.File(stage, src.getName).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val commitStamp = CellManifest.nextCommitStamp(store)
    CellManifest.write(stage, commitStamp, newFiles)
    val victims = replaced ++ replacedDirs
      .flatMap(d => CellFooterCache.filesUnder(store, d)).map(_.path)
    val replacing = victims.nonEmpty || replacedDirs.nonEmpty
    if (replacing) CellRetire.write(stage, victims, replacedDirs)
    java.nio.file.Files.move(stage.toPath, destDir.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    if (replacing) CellRetire.complete(store, destDir)
    java.nio.file.Files.write(new java.io.File(store, "_SUCCESS").toPath,
                              Array.emptyByteArray)
    CellFooterCache.invalidate(store)
    commitStamp
  }

  /** A fresh `batch_<tag>_<uuid>` dir name for a maintenance publish. */
  private[cell] def freshDir(tag: String): String =
    s"batch_${tag}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  /** A fresh, created `_tmp_<tag>_<uuid>` dir under the store root: a
    * rewrite's task outputs before its publish; the caller deletes it. */
  private[cell] def tmpDir(store: String, tag: String): java.io.File = {
    val d = new java.io.File(store, "_tmp_" + freshDir(tag).stripPrefix("batch_"))
    d.mkdirs()
    d
  }

  /** THE REWRITE PRIMITIVE — HBase compacts, splits and merges a region
    * by merging its sorted store files, no repartition: one Spark job,
    * one task per entry of `tasks` ([[CellRegionRewrite]]) writing
    * `part-<id>-<seq>` files (one id per task range) into a hidden
    * `_tmp_<tag>_*` dir, then ONE [[publishReplacement]] of a fresh
    * `batch_<tag>_*` dir. With no task and nothing replaced it commits
    * nothing. Returns the published files. */
  private[cell] def rewrite(spark: org.apache.spark.sql.SparkSession,
                            store: String, tag: String,
                            tasks: Seq[CellRewriteTask], codecs: CellCodecs,
                            replaced: Seq[String] = Nil,
                            replacedDirs: Seq[String] = Nil)
      : Seq[CellFileMeta] = {
    if (tasks.isEmpty && replaced.isEmpty && replacedDirs.isEmpty) return Nil
    val tmp = tmpDir(store, tag)
    try {
      val tmpPath = tmp.getPath
      val work = tasks.zip(tasks.scanLeft(0)(_ + _.ranges.size))
      val metas = if (work.isEmpty) Nil
        else spark.sparkContext.parallelize(work, work.size).flatMap {
          case (t, id) => CellRegionRewrite.run(t, id, tmpPath, codecs)
        }.collect().toSeq
      publishReplacement(store, freshDir(tag), metas, replaced, replacedDirs)
      metas
    } finally FileUtils.deleteQuietly(tmp)
  }

  /** `files` as key-disjoint CHAINS, first-fit by min rowkey: a task
    * opens one reader per overlapping generation, not per file. A file
    * that may hold NULL rowkeys (they sort first) only starts a chain;
    * one without rowkey stats is a chain of its own. */
  private def chains(files: Seq[CellFileMeta]): Seq[Seq[String]] = {
    val (keyed, bare) =
      files.partition(m => m.minKey.nonEmpty && m.maxKey.nonEmpty)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[CellFileMeta]]
    keyed.sortBy(_.minKey.get)(GraftCell.UnsignedBytesOrd).foreach { m =>
      out.find(c => m.nullKeys.contains(0L) &&
          JArrays.compareUnsigned(c.last.maxKey.get, m.minKey.get) < 0) match {
        case Some(c) => c += m
        case None    => out += scala.collection.mutable.ArrayBuffer(m)
      }
    }
    out.map(_.map(_.path).toSeq).toSeq ++ bare.map(_.path).sorted.map(Seq(_))
  }

  /** The contiguous rowkey ranges cut at ascending `cuts`: (-∞, c1),
    * [c1, c2), …, [cn, ∞). */
  private def rangesAt(cuts: Seq[Array[Byte]]): Seq[GraftCell.KeyRange] =
    (None +: cuts.map(Some(_)) :+ None).sliding(2).toSeq.map {
      case Seq(lo, hi) => GraftCell.KeyRange(
        lo.map(GraftCell.Bound(_, true)), hi.map(GraftCell.Bound(_, false)))
    }

  /** Compaction's plan: one task per rowkey range, cut at byte-weighted
    * quantiles of the files' manifest min keys (at most
    * `spark.sql.shuffle.partitions` ranges), so the layout depends only
    * on the data and that setting. Files without rowkey stats go to
    * every range, files that may hold NULL rowkeys to the first too. */
  private def rangeTasks(spark: org.apache.spark.sql.SparkSession,
                         files: Seq[CellFileMeta],
                         keep: Option[CellKeep]): Seq[CellRewriteTask] = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val keyed = files.filter(_.minKey.nonEmpty).toIndexedSeq
      .sortBy(_.minKey.get)(GraftCell.UnsignedBytesOrd)
    // cut before file i when a quantile of the bytes before it is passed
    val before = keyed.scanLeft(0L)(_ + _.bytes)
    val q = before.map(_ * parts / math.max(1L, before.last))
    val cuts = keyed.indices.drop(1).filter(i => q(i) > q(i - 1))
      .map(keyed(_).minKey.get).distinctBy(_.toSeq)
      .filter(JArrays.compareUnsigned(_, keyed.head.minKey.get) > 0)
    rangesAt(cuts).flatMap { r =>
      val in = files.filter(m =>
        GraftCell.mayOverlap(m.minKey, m.maxKey, r) ||
        (r.lo.isEmpty && !m.nullKeys.contains(0L)))
      if (in.isEmpty) None
      else Some(CellRewriteTask(chains(in), Seq(r), keep = keep))
    }
  }

  /** The bucketed plan: one task per bucket b of `n`, tagging its
    * outputs `b of n`, over every file that can hold bucket b's rows —
    * untagged files, and files tagged `id of m` with id ≡ b (mod
    * gcd(m, n)): [[GraftBucket.of]] floor-mods one hash, so a row of
    * bucket id of m is in bucket b of n only then. A file tagged with
    * n feeds one task; the reader filters the rest to bucket b. */
  private def bucketTasks(files: Seq[CellFileMeta], n: Int,
                          keep: Option[CellKeep]): Seq[CellRewriteTask] =
    (0 until n).flatMap { b =>
      val in = files.filter(f => GraftBucket.parse(f.path).forall {
        case (id, m) => (id - b) % BigInt(m).gcd(n).toInt == 0 })
      if (in.isEmpty) None
      else Some(CellRewriteTask(chains(in), bucket = Some((b, n)), keep = keep))
    }

  /** REGION SPLIT as an ADMIN op (r16 — the HBase shell `split 't',
    * 'key'`): every region file whose [min,max] straddles `splitKey`
    * is rewritten into two files cut exactly at the key, so a later
    * range probe on either side plans half the bytes — the post-hoc
    * knob for a store already on disk. One [[rewrite]] task per victim
    * with the ranges (-∞, key) and [key, ∞), keeping the victim's codec
    * and dropping its bucket tag (split files degrade to unkeyed); a
    * sorted file cut at a key yields two sorted, disjoint files. Files
    * without rowkey stats are left alone. Returns (files split, files
    * created). */
  def splitRegion(spark: org.apache.spark.sql.SparkSession,
                  store: String, splitKey: String): (Long, Long) =
    splitRegionAt(spark, store, Seq(UTF8String.fromString(splitKey).getBytes))

  /** [[splitRegion]] at ascending raw byte keys in one [[rewrite]], each
    * file cut at every key it straddles — [[normalize]]'s midpoint keys
    * are byte-fraction midpoints, not necessarily valid UTF-8. */
  private[cell] def splitRegionAt(spark: org.apache.spark.sql.SparkSession,
                                  store: String,
                                  keys: Seq[Array[Byte]]): (Long, Long) = {
    CellRetire.repair(store) // never resurrect pending retirements
    val victims = CellFooterCache.filesOf(store).map(m => m -> keys.filter(k =>
        m.minKey.exists(JArrays.compareUnsigned(_, k) < 0) &&
        m.maxKey.exists(JArrays.compareUnsigned(_, k) >= 0)))
      .filter(_._2.nonEmpty)
    if (victims.isEmpty) return (0L, 0L)
    val metas = rewrite(spark, store, "split",
      victims.map { case (m, ks) => CellRewriteTask(Seq(Seq(m.path)),
        rangesAt(ks), codec = Some(GraftCellCodecTag.of(m.path))) },
      CellCodecs.DEFAULT, victims.map(_._1.path))
    (victims.size.toLong, metas.size.toLong)
  }

  /** REGION MERGE as an ADMIN op (r16 — the HBase shell
    * `merge_region`): within each committed dir, consecutive (rowkey-
    * adjacent) region files are greedily grouped into runs of total
    * size ≤ `maxBytes`, and every run of ≥ 2 files is merged into ONE
    * sorted file, bounding the store's region-file count. Same-dir and
    * same-codec only, so merging never blends generations or codecs.
    * One [[rewrite]] task per run. Returns (runs merged, files before,
    * files after). */
  def mergeRegions(spark: org.apache.spark.sql.SparkSession,
                   store: String, maxBytes: Long): (Long, Long, Long) = {
    CellRetire.repair(store)
    val before = CellFooterCache.filesOf(store)
    val runs: Seq[Seq[CellFileMeta]] =
      CellFooterCache.committedDirs(store).flatMap { d =>
        val sorted = CellFooterCache.filesUnder(store, d)
          .filter(m => m.minKey.nonEmpty && m.maxKey.nonEmpty)
          .sortWith((a, b) =>
            JArrays.compareUnsigned(a.minKey.get, b.minKey.get) < 0)
        val out = scala.collection.mutable.ArrayBuffer.empty[Vector[CellFileMeta]]
        var cur = Vector.empty[CellFileMeta]
        var bytes = 0L
        sorted.foreach { m =>
          if (cur.nonEmpty && (bytes + m.bytes > maxBytes ||
                               m.messageType != cur.head.messageType ||
                               // never blend codecs: the merged file is
                               // re-encoded with its run's codec (r18)
                               GraftCellCodecTag.of(m.path) !=
                                 GraftCellCodecTag.of(cur.head.path))) {
            out += cur; cur = Vector.empty; bytes = 0L
          }
          cur :+= m; bytes += m.bytes
        }
        if (cur.nonEmpty) out += cur
        out.toSeq
      }.filter(_.size >= 2)
    if (runs.isEmpty) return (0L, before.size.toLong, before.size.toLong)
    rewrite(spark, store, "merge",
      runs.map(r => CellRewriteTask(chains(r),
        codec = Some(GraftCellCodecTag.of(r.head.path)))),
      CellCodecs.DEFAULT, runs.flatten.map(_.path))
    (runs.size.toLong, before.size.toLong,
     CellFooterCache.filesOf(store).size.toLong)
  }

  /** Byte-fraction MIDPOINT of two rowkeys (the arithmetic of HBase's
    * `Bytes.split`): rowkeys compare lexicographically, i.e. as
    * big-endian binary fractions 0.b₁b₂…, so the midpoint is
    * (min+max)/2 computed at one extra byte of precision — ZERO IO,
    * the normalizer's split point comes from manifest stats alone (the
    * zero-read analog of HBase picking the mid-storefile key). For
    * lexicographic min < max the result is strictly greater than min;
    * it can land above max only in the degenerate trailing-0x00 case
    * (min="a", max="a"+NUL — numerically equal fractions), where the
    * split finds no straddling victim and the file is left alone. */
  private[graft] def midKey(min: Array[Byte], max: Array[Byte]): Array[Byte] = {
    val n = math.max(min.length, max.length) + 1
    def at(a: Array[Byte], i: Int): Int = if (i < a.length) a(i) & 0xff else 0
    // sum = min + max as right-0x00-padded big-endian digits, LSB-first
    val digits = new Array[Int](n)
    var carry = 0
    var i = n - 1
    while (i >= 0) {
      val v = at(min, i) + at(max, i) + carry
      digits(i) = v & 0xff
      carry = v >>> 8
      i -= 1
    }
    // divide (carry . digits) by 2, MSB-first with remainder
    val out = new Array[Byte](n)
    var rem = carry // the sum's integer digit (0 or 1)
    i = 0
    while (i < n) {
      val v = (rem << 8) + digits(i)
      out(i) = (v >>> 1).toByte
      rem = v & 1
      i += 1
    }
    out
  }

  /** REGION NORMALIZER (r16 — HBase's SimpleRegionNormalizer as one
    * `CALL normalize(t)` pass): bring region-file sizes toward a
    * target using MANIFEST STATS alone to plan (zero data bytes read
    * before the surgery itself) —
    *
    *  - SPLIT: every file > 2×target is cut at the byte-midpoint of
    *    its key range ([[midKey]]), all in one [[splitRegionAt]];
    *  - MERGE: runs of adjacent files totalling ≤ target merge into
    *    one ([[mergeRegions]]).
    *
    * `target` defaults to the pre-state MEAN file size (HBase's
    * normalizer targets the average region size), so the verb is
    * self-scaling — no knob to mis-set at 100 TB. One planning pass
    * per CALL, like the HBase normalizer chore; repeated CALLs
    * converge. Fresh split siblings can never re-merge in the same
    * pass: their summed bytes are the oversized original's, > 2×target
    * and therefore over the merge bound by construction. Content is
    * byte-identical through the surgery. Returns (files split, runs
    * merged, files before, files after, target bytes). */
  def normalize(spark: org.apache.spark.sql.SparkSession, store: String,
                targetBytes: Long = -1L): (Long, Long, Long, Long, Long) = {
    CellRetire.repair(store)
    val files = CellFooterCache.filesOf(store)
    val before = files.size.toLong
    if (files.isEmpty) return (0L, 0L, 0L, 0L, 0L)
    val target =
      if (targetBytes > 0) targetBytes
      else math.max(1L, files.map(_.bytes).sum / files.size)
    val victims = files.filter(m =>
      m.bytes > 2 * target && m.minKey.nonEmpty && m.maxKey.nonEmpty &&
      JArrays.compareUnsigned(m.minKey.get, m.maxKey.get) < 0)
    // one split key per victim, deduped (victims can share a key range)
    val keys = victims.map(m => midKey(m.minKey.get, m.maxKey.get))
      .distinctBy(_.toSeq).sortBy(identity)(GraftCell.UnsignedBytesOrd)
    val (filesSplit, _) = splitRegionAt(spark, store, keys)
    val (runs, _, after) = mergeRegions(spark, store, target)
    (filesSplit, runs, before, after, target)
  }

  /** TRUNCATE — the HBase shell `truncate`: drop ALL data, keep the
    * table and its descriptor (TBLPROPERTIES). METADATA-ONLY: one
    * empty replacement generation whose retire intent lists every live
    * region file (the same atomic publish as restore/split/merge), so
    * ZERO data bytes are read and truncating a 100 TB table costs
    * O(region files) of driver-side metadata. The DSv2 DEFAULT would
    * route TRUNCATE through `deleteWhere(always_true)` — one
    * distributed read-and-rewrite task per region file just to learn
    * that every row matches; the override is the difference between a
    * metadata flip and a full-table scan. Crash-safe: readers see the
    * empty set from the rename onward, an interrupted cleanup is
    * completed by `CALL repair`. Single-writer like every maintenance
    * verb; existing snapshots are invalidated (the documented
    * no-archive-dir caveat — `CALL hbck` reports them). Returns
    * (dirs dropped, files retired). */
  def truncate(store: String): (Long, Long) = {
    CellRetire.repair(store)
    val dirs = CellFooterCache.committedDirs(store)
    val files = dirs.flatMap(d => CellFooterCache.filesUnder(store, d))
    if (files.isEmpty) return (0L, 0L) // already empty (marker dirs only)
    // every live dir is replaced: the fresh marker is the whole live set
    publishReplacement(store, freshDir("truncate"), Nil, replacedDirs = dirs)
    (dirs.size.toLong, files.size.toLong)
  }

  /** BULKLOAD — the HBase `completebulkload` (LoadIncrementalHFiles)
    * verb, and the missing half of the backup story: ADOPT a completed
    * external graftcell store (an `export_snapshot` destination, an
    * incremental-export window, or any connector-written store) into a
    * live table. Files are byte-copied DISTRIBUTED (one Spark task per
    * region file — adoption moves at cluster bandwidth) into one new
    * generation per source dir, preserving the source's batch
    * granularity (an incremental window adopts as its own generations,
    * so streaming readers and commit-stamp time travel see the adopted
    * batches as batches). Each generation publishes through
    * [[publishReplacement]]'s stage→atomic-rename protocol with a fresh
    * monotonic commit stamp; manifest STATS TRAVEL from the source
    * manifest (zero data bytes read for planning — a manifest-less
    * legacy source dir pays its usual footer scan once, here). Source
    * dirs adopt in source-commit-stamp order, so the adopted window
    * replays in the order it was written.
    *
    * Refusals: a source without the `_SUCCESS` completion marker is a
    * half-written store (or a crashed export) — refused, as is an empty
    * one, the store itself, and a file whose parquet message type
    * disagrees with the target's existing files (the HFile-format
    * compatibility check). Source files listed by a pending source
    * RETIRE intent are already replaced there and are excluded, exactly
    * as the source's own readers would. The source is READ-ONLY
    * throughout (copy, never move — it may be a backup volume).
    * Returns (dirs adopted, files copied, rows adopted). */
  def bulkload(spark: org.apache.spark.sql.SparkSession,
               store: String, src: String): (Long, Long, Long) = {
    val srcFile = new java.io.File(src)
    val storeFile = new java.io.File(store)
    require(srcFile.getCanonicalPath != storeFile.getCanonicalPath,
      s"graftcell: bulkload source and target are the same store: $src")
    require(new java.io.File(srcFile, "_SUCCESS").exists(),
      s"graftcell: $src is not a completed graftcell store " +
      "(no _SUCCESS marker — refusing a half-written source)")
    CellRetire.repair(store) // target housekeeping, like all maintenance
    val retired = CellRetire.retiredOf(src)
    val srcDirs = CellFooterCache.committedDirs(src)
      .sortBy(d => CellManifest.commitStampOf(src, d))
    require(srcDirs.nonEmpty,
      s"graftcell: bulkload source $src has no committed dirs")
    val targetTypes =
      CellFooterCache.filesOf(store).map(_.messageType).toSet
    var dirs = 0L; var files = 0L; var rows = 0L
    srcDirs.foreach { d =>
      val metas = CellFooterCache.filesUnder(src, d)
        .filterNot(m => retired.contains(m.path))
      metas.foreach(m => require(
        targetTypes.isEmpty || targetTypes.contains(m.messageType),
        s"graftcell: bulkload file ${m.path} has parquet message type " +
        s"'${m.messageType}' incompatible with the target store"))
      if (metas.nonEmpty) {
        val tmp = tmpDir(store, "bulkload")
        val tmpPath = tmp.getPath
        spark.sparkContext
          .parallelize(metas.map(_.path), metas.size)
          .foreach { p =>
            val f = new java.io.File(p)
            java.nio.file.Files.copy(f.toPath,
              new java.io.File(tmpPath, f.getName).toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            ()
          }
        val adopted = metas.map(m => m.copy(path =
          new java.io.File(tmp, new java.io.File(m.path).getName).getPath))
        publishReplacement(store, freshDir("bulkload"), adopted)
        FileUtils.deleteQuietly(tmp)
        dirs += 1; files += metas.size; rows += metas.map(_.rowCount).sum
      }
    }
    (dirs, files, rows)
  }

  /** The SYNC SNAPSHOT a build pins on the base store: the exact view
    * the index covers, and the boundary `syncIndex` reads its delta
    * from. Keyed by the index store's leaf name PLUS a hash of its
    * absolute path (ADVICE r19: two path-mode indexes of the same base
    * whose directories merely share a leaf name must not share —
    * and clobber — one boundary), so several indexes sync
    * independently whatever their locations. */
  def idxSyncSnapshot(idxStore: String): String = {
    val abs = new java.io.File(idxStore).getAbsolutePath
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    s"__idx_sync_${new java.io.File(idxStore).getName}_$h"
  }

  /** The ONE observable sync state of (base store, index store) —
    * shared verbatim by `syncIndex` (mode selection / refusal),
    * `g.t.indexes` (the `delta_generations` / `rewritten_since_sync`
    * columns) and the `IndexRoute` planner rule (route only when the
    * index provably covers the live view), so the health a user reads
    * can never drift from the predicate the verbs act on (ADVICE r19).
    *
    *  - `snapExists`: the boundary snapshot is present (false ⇒ the
    *    whole store is unsynced and a rebuild is due);
    *  - `pinsOk`: every pinned generation/file is still live AS
    *    PINNED (false ⇒ history was rewritten since the boundary);
    *  - `lateEvents`: travel-log structural events stamped after the
    *    boundary's newest pinned generation;
    *  - `deltaDirs`: live generations the boundary does not pin (what
    *    an append-only dir-granular sync would index);
    *  - `missingPins`: pins resolving NEITHER live nor through the
    *    archive (nonzero ⇒ the boundary view is no longer readable
    *    and even a content-level sync must refuse). */
  final case class IdxSyncState(snapExists: Boolean, pinsOk: Boolean,
                                lateEvents: Long, deltaDirs: Set[String],
                                missingPins: Long) {
    /** Append-only since the boundary: the dir-granular delta is sound. */
    def appendOnly: Boolean = snapExists && pinsOk && lateEvents == 0L
    /** The index mirrors the live view exactly — a planner may route
      * value predicates through it. */
    def covered: Boolean = appendOnly && deltaDirs.isEmpty
  }

  private lazy val idxMarkerMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  /** DISCOVER the indexes of a base store: catalog-created sibling
    * directories (marker-stamped) whose persisted descriptor says they
    * index THIS table — (index store path, descriptor properties),
    * sorted by path. Shared by `g.t.indexes` and the [[graft.plans
    * .IndexRoute]] planner rule; driver-side metadata only (one
    * sibling listing + marker reads). Path-mode indexes built at
    * arbitrary locations are not discoverable here by design — a
    * planner can only trust indexes the catalog can vouch for. */
  private[graft] def indexesOf(store: String)
      : Seq[(String, Map[String, String])] = {
    val storeDir = new java.io.File(store)
    val tName = storeDir.getName
    Option(storeDir.getParentFile).flatMap(p => Option(p.listFiles))
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory &&
                   new java.io.File(d, "_GRAFT_TABLE").exists())
      .flatMap { d =>
        // a corrupt / partially-written sibling marker must degrade to
        // "not an index", never fail planning of an unrelated query on
        // the base table (ADVICE r20 low: IndexRoute calls this on
        // every candidate Filter, so ANY bad neighbor used to throw
        // during optimization)
        scala.util.Try {
          val bytes = java.nio.file.Files.readAllBytes(
            new java.io.File(d, "_GRAFT_TABLE").toPath)
          val props =
            if (bytes.isEmpty) Map.empty[String, String]
            else idxMarkerMapper.readTree(bytes).properties().asScala
              .map(e => e.getKey -> e.getValue.asText()).toMap
          // the descriptor records the table reference as the build verb
          // received it ('t' or 'ns:t'); the sibling scan already scopes
          // the namespace, so match on the table segment
          if (props.get("index.of")
                .map(_.split(":", -1).last).contains(tName))
            Some(d.getPath -> props)
          else None
        }.toOption.flatten
      }
      .sortBy(_._1).toSeq
  }

  def idxSyncState(store: String, idxStore: String): IdxSyncState = {
    val snap = idxSyncSnapshot(idxStore)
    val live = CellFooterCache.committedDirs(store).toSet
    scala.util.Try(GraftCellSnapshot.pinned(store, snap)) match {
      // no boundary (dropped / pre-dating the lifecycle): the whole
      // store is unsynced delta and a rebuild is due
      case scala.util.Failure(_) =>
        IdxSyncState(snapExists = false, pinsOk = false, 0L, live, 0L)
      case scala.util.Success(pins) =>
        val pinsOk = pins.forall { case (d, names) =>
          live.contains(d) && names.forall(_.subsetOf(
            CellFooterCache.filesUnder(store, d)
              .map(m => new java.io.File(m.path).getName).toSet))
        }
        val pinnedMax = pins.keys
          .flatMap(d => scala.util.Try(
            CellManifest.commitStampOf(store, d)).toOption)
          .maxOption.getOrElse(Long.MinValue)
        val late = CellTravelLog.read(store).count(_.at > pinnedMax).toLong
        val missing = pins.keys.toSeq.map { d =>
          val resolved = CellArchive.resolvePinned(store, d, pins(d))
            .map(m => new java.io.File(m.path).getName).toSet
          pins(d) match {
            case Some(ns) => ns.count(!resolved.contains(_)).toLong
            case None => if (resolved.nonEmpty || live.contains(d) ||
                             CellArchive.dirOf(store, d).isDirectory) 0L
                         else 1L
          }
        }.sum
        IdxSyncState(snapExists = true, pinsOk, late,
                     live -- pins.keySet, missing)
    }
  }

  /** GLOBAL SECONDARY INDEX bulk build (r19 — the Phoenix
    * global-index shape): materialize a VALUE-addressable twin of one
    * (family, qualifier) column as its own cell store. Index cells:
    * rowkey = `value ++ 0x00 ++ base_rowkey` (the Phoenix
    * variable-length separator — value-prefix scans seek the index
    * exactly like rowkey scans seek the base), family `i`, qualifier
    * `r`, the base cell's version, and the BASE ROWKEY as the value —
    * a covered back-pointer, so probe → base multiget needs no third
    * hop. ONE distributed pass: connector read of the base (family +
    * qualifier predicates pushed; NULL keys/values excluded — they are
    * not seekable), projection, truncate-commit through the declared
    * sorted HFile layout, so the index store carries the same tight
    * per-file [min,max] stats and blooms every graftcell table gets —
    * the probe's prefix prune IS the ordinary file-pruning machinery.
    * Rebuild = same call again (overwrite; deterministic). At 100 TB
    * this is Phoenix's ASYNC index MR build re-expressed as one Spark
    * plan; incremental maintenance composes from the sinceSnapshot
    * delta scan the same way `sql_cell_sync` replicates. Returns the
    * indexed cell count (from the fresh manifest — no second pass). */
  def buildIndex(spark: org.apache.spark.sql.SparkSession,
                 baseStore: String, idxStore: String,
                 family: String, qualifier: String,
                 maxRowsPerFile: Long = -1L): Long = {
    // pin the view FIRST and index exactly it: the snapshot is then
    // both the consistency proof (index == snapshot view, bit for bit)
    // and the incremental boundary the next sync reads from. The
    // boundary records the index store as its OWNER (vacuum's
    // orphanhood signal — path-identity, not name heuristics).
    // A legacy r19-named boundary for this index is adopted first, so
    // the create below REPLACES it instead of leaving it pinning base
    // archive history forever (ADVICE r20 low).
    adoptLegacyBoundary(baseStore, idxStore)
    val snap = idxSyncSnapshot(idxStore)
    GraftCellSnapshot.create(baseStore, snap,
      Some(new java.io.File(idxStore).getAbsolutePath))
    val w = indexCellsOf(spark, baseStore, family, qualifier,
                         Map("snapshot" -> snap))
      .write.format("graftcell").mode("overwrite")
    // the hbase.hregion.max.filesize analog: bounds index region-file
    // size so value-prefix seeks stay sub-file even on a small store
    (if (maxRowsPerFile > 0) w.option("maxRowsPerFile", maxRowsPerFile)
     else w).save(idxStore)
    CellFooterCache.invalidate(idxStore)
    CellFooterCache.filesOf(idxStore).map(_.rowCount).sum
  }

  /** COMPOSITE / COVERING index bulk build (r20 — the Phoenix
    * `CREATE INDEX ON t(q1, q2) INCLUDE (q3)` shape): the cell model
    * stores an entity's columns as SEPARATE cells, so a multi-column
    * key first needs the entity's ROW IMAGE — per (rowkey, qualifier)
    * the LATEST cell (max version; ties broken by max value, so the
    * image is total and engine-portable), pivoted to one row per
    * entity. Entities with every KEY part non-null emit:
    *
    *  - the seek cell: rowkey = `v1 ++ 0x00 ++ v2 ++ ... ++ 0x00 ++
    *    base_rowkey`, family `i`, qualifier `r`, value = the base
    *    rowkey (the back-pointer) — a two-predicate probe is ONE
    *    prefix seek;
    *  - one COVERED cell per non-null INCLUDE column: family `c`,
    *    qualifier = the included qualifier, value = its image value —
    *    a covered query never touches the base at all.
    *
    * All cells carry the image version (max over the key columns) —
    * the row-image timestamp. ONE distributed pass: pushed
    * family/qualifier-IN scan → two-stage latest resolution (max
    * version per (rowkey, qualifier), then max value at that version)
    * → pivot → union of seek + covered projections, truncate-commit
    * through the declared sorted HFile layout. Maintenance is
    * REBUILD-ONLY (spec-pinned refusal): a composite entry moves when
    * ANY of its key columns changes, so the single-column delta
    * contract does not compose — Phoenix mutates such indexes through
    * per-row coprocessor hooks, which is a different machine from
    * batch delta sync. Returns the indexed cell count. */
  def buildCompositeIndex(spark: org.apache.spark.sql.SparkSession,
                          baseStore: String, idxStore: String,
                          family: String, keyQuals: Seq[String],
                          includeQuals: Seq[String],
                          maxRowsPerFile: Long = -1L): Long = {
    import org.apache.spark.sql.functions._
    require(keyQuals.size >= 2,
      "graftcell: a composite index needs at least two key qualifiers")
    val all = (keyQuals ++ includeQuals).distinct
    val snap = idxSyncSnapshot(idxStore)
    GraftCellSnapshot.create(baseStore, snap,
      Some(new java.io.File(idxStore).getAbsolutePath))
    val src = spark.read.format("graftcell").option("snapshot", snap)
      .load(baseStore)
      .filter(col("family") === family && col("qualifier").isin(all: _*) &&
              col("rowkey").isNotNull && col("version").isNotNull &&
              col("value").isNotNull)
    // row image: latest version per (rowkey, qualifier), max value on
    // a version tie. r21 (guide §2.4): lexicographic max over the
    // (version, value) STRUCT is exactly max-version-then-max-value,
    // and folding it per qualifier INTO the pivot makes the whole
    // image resolution ONE map-side-partial aggregation — the r20
    // shape was agg + self-join + agg + pivot (three exchanges of the
    // indexed slice); this is one exchange, same image, bit for bit.
    def pick(q: String) =
      max(when(col("qualifier") === q,
               struct(col("version"), col("value")))).as(s"lv_$q")
    val piv = src.groupBy("rowkey")
      .agg(pick(all.head), all.tail.map(pick): _*)
    val named = all.foldLeft(piv) { (df, q) =>
      df.withColumn(s"v_$q", col(s"lv_$q.value"))
        .withColumn(s"vmax_$q", col(s"lv_$q.version"))
    }
    val keyed = named
      .filter(keyQuals.map(q => col(s"v_$q").isNotNull).reduce(_ && _))
      .withColumn("idx_rk",
        concat(keyQuals.flatMap(q =>
          Seq(col(s"v_$q"), lit("\u0000"))) :+ col("rowkey"): _*))
      .withColumn("v_img",
        greatest(keyQuals.map(q => col(s"vmax_$q")): _*))
    val seekCells = keyed.select(
      col("idx_rk").as("rowkey"), lit("i").as("family"),
      lit("r").as("qualifier"), col("v_img").as("version"),
      col("rowkey").as("value"))
    val covered = includeQuals.map(q =>
      keyed.filter(col(s"v_$q").isNotNull).select(
        col("idx_rk").as("rowkey"), lit("c").as("family"),
        lit(q).as("qualifier"), col("v_img").as("version"),
        col(s"v_$q").as("value")))
    val w = covered.foldLeft(seekCells)(_ union _)
      .write.format("graftcell").mode("overwrite")
    (if (maxRowsPerFile > 0) w.option("maxRowsPerFile", maxRowsPerFile)
     else w).save(idxStore)
    CellFooterCache.invalidate(idxStore)
    CellFooterCache.filesOf(idxStore).map(_.rowCount).sum
  }

  /** The INDEXABLE slice of a base view: the one (family, qualifier)
    * column, nulls excluded (not seekable) — family/qualifier
    * predicates push into the connector scan, so only the indexed
    * column's cells ever leave the store. */
  private def indexSourceOf(spark: org.apache.spark.sql.SparkSession,
                            baseStore: String, family: String,
                            qualifier: String,
                            readOpts: Map[String, String])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    readOpts.foldLeft(spark.read.format("graftcell")) {
        case (r, (k, v)) => r.option(k, v) }
      .load(baseStore)
      .filter(col("family") === family && col("qualifier") === qualifier &&
              col("rowkey").isNotNull && col("value").isNotNull)
  }

  /** Base cells → index cells: rowkey = value ++ 0x00 ++ base rowkey,
    * value = the base rowkey (the covered back-pointer). */
  private def toIndexCells(src: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    src.select(
      concat(col("value"), lit("\u0000"), col("rowkey")).as("rowkey"),
      lit("i").as("family"), lit("r").as("qualifier"),
      col("version"), col("rowkey").as("value"))
  }

  private def indexCellsOf(spark: org.apache.spark.sql.SparkSession,
                           baseStore: String, family: String,
                           qualifier: String,
                           readOpts: Map[String, String])
      : org.apache.spark.sql.DataFrame =
    toIndexCells(indexSourceOf(spark, baseStore, family, qualifier, readOpts))

  /** How many index entries a content-level sync will delete via a
    * driver-built predicate before refusing: the removal set rides an
    * Or-chain filter into `deleteWhere`, so it must stay
    * driver-bounded (a pure compaction removes nothing; DML touches
    * the rows a statement touched). Beyond this, rebuild — at 100 TB
    * a removal set this large means the base was largely rewritten
    * and the rebuild's one distributed pass is the cheaper plan. */
  private val IDX_SYNC_MAX_DELETES = 10000

  /** ADOPT an r19-era legacy boundary (`__idx_sync_<leaf>`, no path
    * hash) for this index: rename it to the current path-keyed name so
    * the sync lifecycle RESUMES instead of forcing a full rebuild, and
    * so the legacy pin cannot linger unreclaimed next to the new-name
    * boundary a rebuild would have created (ADVICE r20 low). Only a
    * boundary whose recorded owner IS this index (or an ownerless
    * legacy pin) is adopted. */
  private def adoptLegacyBoundary(baseStore: String,
                                  idxStore: String): Unit = {
    val cur = idxSyncSnapshot(idxStore)
    val legacy = s"__idx_sync_${new java.io.File(idxStore).getName}"
    if (legacy != cur &&
        !new java.io.File(baseStore, s"_snapshot_$cur.json").exists() &&
        new java.io.File(baseStore, s"_snapshot_$legacy.json").exists() &&
        GraftCellSnapshot.ownerOf(baseStore, legacy)
          .forall(_ == new java.io.File(idxStore).getAbsolutePath))
      GraftCellSnapshot.promote(baseStore, legacy, cur)
  }

  /** INCREMENTAL index maintenance (r19; content-mode + race-free
    * boundary r20 — completes the build_index lifecycle). Protocol:
    *
    *  1. Pin the delta's UPPER BOUND first (`<boundary>_next`): a base
    *     generation committed between the delta scan and the boundary
    *     advance lands AFTER the pinned bound and is the NEXT sync's
    *     delta — the r19 order (scan, then re-pin live) silently
    *     marked such a commit covered-but-never-indexed (ADVICE r19).
    *  2. Append-only history since the boundary (every pin live as
    *     pinned, no later travel-log event) ⇒ DIR-GRANULAR delta: read
    *     `snapshot=next, sinceSnapshot=boundary` — O(delta), the
    *     generations outside the boundary never re-read (mode
    *     `delta`).
    *  3. Structural rewrite since the boundary (compaction / split /
    *     merge / restore / DML) ⇒ CONTENT-LEVEL delta while the
    *     boundary view is still readable (its pins resolve live or
    *     through the archive — true for every content-preserving
    *     maintenance op, whose retired files the archive keeps for
    *     exactly this pin): null-safe anti-joins of the two pinned
    *     views on the full cell identity (rowkey, version, value) —
    *     additions append, removals delete their index entries
    *     (driver-bounded; see [[IDX_SYNC_MAX_DELETES]]). Only the
    *     indexed (family, qualifier) column crosses the exchange —
    *     pushed on both sides — so compute is O(indexed column) and
    *     the index WRITE stays O(content delta): after a pure
    *     compaction both anti-joins are empty and nothing is written
    *     at all, where r19 refused and forced an O(column) rebuild
    *     (mode `content`).
    *  4. Boundary unreadable (pins resolve neither live nor archived)
    *     ⇒ REFUSE with the rebuild verb named — never a silent
    *     partial sync.
    *  5. Atomically PROMOTE `_next` to the boundary name.
    *
    * Returns (cells appended, index entries deleted, delta
    * generations, mode). */
  def syncIndex(spark: org.apache.spark.sql.SparkSession,
                baseStore: String, idxStore: String,
                family: String, qualifier: String)
      : (Long, Long, Long, String) = {
    import org.apache.spark.sql.functions._
    adoptLegacyBoundary(baseStore, idxStore)
    val snap = idxSyncSnapshot(idxStore)
    val st = idxSyncState(baseStore, idxStore)
    require(st.snapExists,
      s"graftcell: no sync snapshot '$snap' on $baseStore — rebuild " +
      "the index (CALL build_index)")
    val owner = Some(new java.io.File(idxStore).getAbsolutePath)
    val next = snap + "_next"
    GraftCellSnapshot.create(baseStore, next, owner)
    def idxRows(): Long = {
      CellFooterCache.invalidate(idxStore)
      CellFooterCache.filesOf(idxStore).map(_.rowCount).sum
    }
    // IDEMPOTENT APPEND (ADVICE r20 medium): append-then-promote is two
    // non-atomic steps, and a crash between them left the boundary at
    // the old pin — the retry recomputed the SAME delta and appended it
    // AGAIN, silently duplicating index entries behind a covered state.
    // The append now stages under an INTENT marker (the repo's
    // crash-completion `repair` pattern) recording the delta's identity
    // and the index's committed dirs + row count as of just before the
    // append: a retry that finds the intent for the SAME delta with the
    // dir set since grown knows the previous append committed — it
    // skips the append, finishes the protocol (deletes are idempotent,
    // promote is atomic) and reports the completed append's counts. An
    // intent for a DIFFERENT delta is stale (a crash after the promote)
    // and is ignored/overwritten.
    val intentFile = new java.io.File(idxStore, "_sync_intent.json")
    def readIntent(): Option[(String, Set[String], Long)] =
      if (!intentFile.exists()) None
      else scala.util.Try {
        val n = idxMarkerMapper.readTree(
          java.nio.file.Files.readAllBytes(intentFile.toPath))
        (n.get("delta").asText(),
         n.get("dirs").elements().asScala.map(_.asText()).toSet,
         n.get("rows").asLong())
      }.toOption
    def writeIntent(key: String, dirs: Set[String], rows: Long): Unit = {
      val n = idxMarkerMapper.createObjectNode()
      n.put("delta", key); n.put("rows", rows)
      val arr = n.putArray("dirs"); dirs.toSeq.sorted.foreach(arr.add)
      java.nio.file.Files.write(intentFile.toPath,
        idxMarkerMapper.writeValueAsBytes(n))
      ()
    }
    def appendOnce(key: String,
                   cells: => org.apache.spark.sql.DataFrame): Long = {
      CellFooterCache.invalidate(idxStore)
      val dirsNow = CellFooterCache.committedDirs(idxStore).toSet
      val rowsNow = CellFooterCache.filesOf(idxStore).map(_.rowCount).sum
      readIntent() match {
        case Some((k, d0, r0)) if k == key && d0 != dirsNow =>
          rowsNow - r0 // the crashed attempt's append already committed
        case _ =>
          writeIntent(key, dirsNow, rowsNow)
          cells.write.format("graftcell").mode("append").save(idxStore)
          idxRows() - rowsNow
      }
    }
    def finish[T](r: T): T = { intentFile.delete(); r }
    if (st.appendOnly) {
      val deltaDirs = GraftCellSnapshot.dirs(baseStore, next).toSet --
        GraftCellSnapshot.dirs(baseStore, snap).toSet
      if (deltaDirs.isEmpty) {
        GraftCellSnapshot.drop(baseStore, next)
        return finish((0L, 0L, 0L, "delta"))
      }
      val synced = appendOnce(
        "delta|" + deltaDirs.toSeq.sorted.mkString(","),
        indexCellsOf(spark, baseStore, family, qualifier,
                     Map("snapshot" -> next, "sinceSnapshot" -> snap)))
      GraftCellSnapshot.promote(baseStore, next, snap)
      finish((synced, 0L, deltaDirs.size.toLong, "delta"))
    } else {
      require(st.missingPins == 0L,
        s"graftcell: sync_index found ${st.missingPins} pinned file(s) " +
        "of the sync boundary resolving neither live nor archived — " +
        "the boundary view is unreadable; rebuild the index " +
        "(CALL build_index)")
      def view(sn: String) = indexSourceOf(
        spark, baseStore, family, qualifier, Map("snapshot" -> sn))
        .select("rowkey", "version", "value")
      // MULTIPLICITY-AWARE content compare (ADVICE r20 low): the store
      // enforces no uniqueness, and a set-semantics anti-join collapsed
      // exact duplicate cells — a second identical copy added since the
      // boundary was never appended, so a COVERED routed query returned
      // fewer duplicate rows than the plain scan. Compare per-identity
      // COUNTS on both pinned views: the count GROWTH appends that many
      // copies; a count reaching zero deletes the entry (as before); a
      // PARTIAL shrink of a duplicated identity refuses loudly — group
      // DML deletes every copy of an identity, so the partial form is
      // inexpressible and the rebuild is the honest plan.
      val curC = view(next).groupBy("rowkey", "version", "value")
        .agg(count(lit(1)).as("nc")).as("c")
      val oldC = view(snap).groupBy("rowkey", "version", "value")
        .agg(count(lit(1)).as("no")).as("o")
      val sameCell =
        col("c.rowkey") <=> col("o.rowkey") &&
        col("c.version") <=> col("o.version") &&
        col("c.value") <=> col("o.value")
      val j = curC.join(oldC, sameCell, "full_outer")
        .select(coalesce(col("c.rowkey"), col("o.rowkey")).as("rowkey"),
                coalesce(col("c.version"), col("o.version")).as("version"),
                coalesce(col("c.value"), col("o.value")).as("value"),
                coalesce(col("nc"), lit(0L)).as("nc"),
                coalesce(col("no"), lit(0L)).as("no"))
        .localCheckpoint() // feeds both the delete and the append legs
      // removals first (driver-bounded, and the multiplicity refusal
      // must fire BEFORE the append mutates the index): identities of
      // the boundary view gone from the live view — their index entries
      // (rowkey = value ++ 0x00 ++ base rowkey, at the base cell's
      // version) must go, or a probe would surface ghosts.
      val delRows = j.filter(col("no") > col("nc"))
        .select(concat(col("value"), lit(" "), col("rowkey")).as("k"),
                col("version"), col("nc"))
        .limit(IDX_SYNC_MAX_DELETES + 1).collect()
      require(delRows.length <= IDX_SYNC_MAX_DELETES,
        s"graftcell: sync_index found more than $IDX_SYNC_MAX_DELETES " +
        "removed cells since the boundary — rebuild the index " +
        "(CALL build_index)")
      require(delRows.forall(_.getLong(2) == 0L),
        "graftcell: sync_index found an exact-duplicate cell whose " +
        "multiplicity SHRANK but did not vanish since the boundary — " +
        "a group delete cannot remove only some copies of an identity; " +
        "rebuild the index (CALL build_index)")
      val synced = appendOnce(
        "content|" + GraftCellSnapshot.dirs(baseStore, next)
          .sorted.mkString(","),
        j.filter(col("nc") > col("no"))
          .select(col("rowkey"), col("version"), col("value"),
                  explode(sequence(lit(1L), col("nc") - col("no")))
                    .as("copy"))
          .select(
            concat(col("value"), lit(" "), col("rowkey")).as("rowkey"),
            lit("i").as("family"), lit("r").as("qualifier"),
            col("version"), col("rowkey").as("value")))
      if (delRows.nonEmpty) {
        def orAll(fs: IndexedSeq[Filter]): Filter =
          if (fs.length == 1) fs.head
          else {
            val (a, b) = fs.splitAt(fs.length / 2)
            Or(orAll(a), orAll(b)) // balanced: eval recursion stays log n
          }
        val preds: IndexedSeq[Filter] = delRows.toIndexedSeq.map { r =>
          val verEq: Filter =
            if (r.isNullAt(1)) IsNull("version")
            else EqualTo("version", r.getLong(1))
          And(EqualTo("rowkey", r.getString(0)), verEq)
        }
        new GraftCellTable(idxStore).deleteWhere(Array(orAll(preds)))
        CellFooterCache.invalidate(idxStore)
      }
      GraftCellSnapshot.promote(baseStore, next, snap)
      finish((synced, delRows.length.toLong,
              st.deltaDirs.size.toLong, "content"))
    }
  }

  /** UPGRADE MANIFESTS (r19 — VERDICT r18 #2, retiring the legacy-dir
    * caveat class): every committed dir WITHOUT `_manifest.json` (a
    * pre-manifest ingest, e.g. the plain-parquet stager's `region=k`
    * layout) gets one derived from its parquet footers — exact per-file
    * stats computed EXECUTOR-side (one task per file, the footers never
    * pass through the driver), committed at the dir's mtime stamp (the
    * exact value `commitStampOf` already reported for it, so no travel
    * window shifts) and published by the same atomic tmp+rename as
    * every manifest. After the upgrade the store plans with zero
    * footer opens and hbck can check every dir's declared file set.
    * Idempotent; returns (dirs upgraded, files indexed). */
  def upgradeManifests(spark: org.apache.spark.sql.SparkSession,
                       store: String): (Long, Long) = {
    val legacy = CellFooterCache.committedDirs(store).filter(d =>
      CellManifest.read(new java.io.File(store, d)).isEmpty)
    var files = 0L
    legacy.foreach { d =>
      val dir = new java.io.File(store, d)
      val paths = Option(dir.listFiles).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getPath).sorted
      val metas =
        if (paths.isEmpty) Seq.empty[CellFileMeta]
        else spark.sparkContext
          .parallelize(paths.toSeq, paths.length)
          .map(CellFooterCache.metaOfFooter)
          .collect().toSeq.sortBy(_.path)
      CellManifest.write(dir, dir.lastModified() * 1000L, metas)
      files += metas.size
    }
    CellFooterCache.invalidate(store)
    (legacy.size.toLong, files)
  }

  /** A manifest-bearing dir's declared file names and its on-disk
    * parquet files; None for a legacy (manifest-less) dir. */
  private def declaredVsDisk(dir: java.io.File)
      : Option[(Set[String], Seq[java.io.File])] =
    CellManifest.read(dir).map { data =>
      (data.files.map(m => new java.io.File(m.path).getName).toSet,
       Option(dir.listFiles).getOrElse(Array.empty).toSeq
         .filter(f => f.isFile && f.getName.endsWith(".parquet")))
    }

  /** Root dirs a crashed commit or maintenance op left behind
    * (`_stage_*`, `_tmp_*`, `_revive_*`): invisible to reads and
    * reclaimable. */
  private def staleTmpDirs(store: String): Seq[java.io.File] =
    Option(new java.io.File(store).listFiles).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && Seq("_stage_", "_tmp_", "_revive_")
        .exists(f.getName.startsWith))

  /** HBCK — HBase's `hbck` consistency report, REPORT-ONLY (it mutates
    * nothing; `CALL repair` / re-staging are the fix verbs). Pure
    * driver-side metadata — O(file names), zero data bytes — so it is
    * cheap at any store size:
    *
    *  - `missing_files`: manifest entries whose region file is GONE
    *    from disk (corruption — reads of that dir would fail);
    *  - `orphan_files`: disk parquet files a manifest does NOT list
    *    (invisible to reads — the manifest is authoritative — but
    *    occupying space; a crashed pre-manifest writer's leavings);
    *  - `pending_intents`: committed dirs carrying `_retire.json`
    *    (an interrupted replacing publish — readers already exclude
    *    the listed files; `CALL repair` completes the retirement),
    *    plus dirs carrying an older release's `_rewrite_intent.json`
    *    (an interrupted in-dir DELETE, which `CALL repair` refuses);
    *  - `invalid_snapshots`: snapshot manifests pinning dirs a later
    *    compaction removed (reads partially empty, restore refused);
    *  - `stale_tmp_dirs`: `_stage_*` / `_tmp_*` root dirs a crashed
    *    maintenance op left behind (invisible to reads, reclaimable).
    *
    *  - `lost_travel_windows` (r18): distinct supersession points in
    *    the travel log whose window can no longer be reconstructed
    *    (probed at the last instant before each supersession) — the
    *    historical timestamps a `TIMESTAMP AS OF` would refuse, so an
    *    operator learns about lost history from the admin verb, not
    *    from a refused query;
    *  - `legacy_dirs` (r19): manifest-less dirs, which have no declared
    *    file set to check missing/orphan files against (`CALL
    *    upgrade_manifests` brings them under the manifest guarantees).
    *
    * Returns (dirs, missing, orphans, pending intents, invalid
    * snapshots, stale tmp dirs, unreferenced archived, lost travel
    * windows, legacy dirs). */
  def hbck(store: String)
      : (Long, Long, Long, Long, Long, Long, Long, Long, Long) = {
    val dirs = CellFooterCache.committedDirs(store)
    var missing = 0L; var orphans = 0L; var intents = 0L
    // r19: dirs still outside the manifest guarantees (upgrade with
    // CALL upgrade_manifests)
    var legacyDirs = 0L
    dirs.foreach { d =>
      val dir = new java.io.File(store, d)
      if (new java.io.File(dir, CellRetire.NAME).exists()) intents += 1
      // an older release's interrupted ranged DELETE: `CALL repair`
      // refuses it loudly
      if (new java.io.File(dir, CellRetire.LEGACY_REWRITE_INTENT).exists())
        intents += 1
      declaredVsDisk(dir) match {
        case Some((declared, disk)) =>
          val onDisk = disk.map(_.getName).toSet
          missing += declared.count(!onDisk.contains(_))
          orphans += disk.count(f => !declared.contains(f.getName))
        case None => legacyDirs += 1
      }
    }
    val invalidSnaps =
      GraftCellSnapshot.list(store).count(_._3.nonEmpty).toLong
    val staleTmp = staleTmpDirs(store).size.toLong
    // r17: archived region files no snapshot pins — garbage the sweep
    // (drop_snapshot / vacuum) should have reclaimed
    val archiveOrphans = CellArchive.unreferenced(store)
    // r18: travel windows that would refuse (report-only, like the
    // rest). The log parses ONCE and each candidate stamp replays over
    // the shared event list (ADVICE r18: per-stamp resolve() calls
    // re-read the log — O(retirements × log) exactly on the stores
    // with the most structural history; dir listings stay cached in
    // CellFooterCache either way).
    val travelEvents = CellTravelLog.read(store)
    val lostWindows = travelEvents
      .filter(_.kind == "retire").map(_.at).distinct
      .count(at => scala.util.Try(
        GraftCellTimeTravel.resolveWith(store, at - 1, store,
                                        travelEvents)).isFailure)
      .toLong
    (dirs.size.toLong, missing, orphans, intents, invalidSnaps, staleTmp,
     archiveOrphans, lostWindows, legacyDirs)
  }

  /** VACUUM — HBase's cleaner chores (HFile/log cleaner) as one verb,
    * and the FIX side of the anomaly classes `hbck` only REPORTS:
    *
    *  1. pending retirements are COMPLETED first (CellRetire.repair —
    *     an in-flight replacing publish's victim files are deliberate
    *     deletions mid-protocol, NOT garbage; collecting them as
    *     orphans would race the protocol that owns them). A store
    *     holding an older release's in-dir rewrite intent is refused
    *     here, before anything is swept;
    *  2. ORPHAN data files — parquet on disk that no manifest lists —
    *     are deleted. Orphans are invisible to every read (the
    *     manifest is authoritative), so this reclaims bytes without
    *     changing any query result; the sweep applies ONLY to
    *     manifest-bearing dirs, because a legacy dir's files are all
    *     live by definition (footer-scan planning has no manifest to
    *     disagree with);
    *  3. STALE TMP DIRS (`_stage_*` / `_tmp_*` crash leavings) are
    *     removed;
    *  4. optionally, INVALIDATED snapshot manifests (pinned dirs a
    *     later compaction/truncate removed — permanently unreadable,
    *     unrestorable) are dropped, so `list_snapshots`/hbck stop
    *     carrying dead pins. Off by default: dropping a manifest is
    *     how an operator loses the evidence of WHICH generation died.
    *
    * Metadata-only driver work — O(file names), zero data bytes at any
    * store size. Same single-writer maintenance contract as compaction
    * (a concurrent writer's live `_stage_*` dir would be swept).
    * Returns (intents completed, orphan files deleted, stale tmp dirs
    * deleted, invalid snapshots dropped, archived files reclaimed). */
  def vacuum(store: String,
             dropInvalidSnapshots: Boolean)
      : (Long, Long, Long, Long, Long, Long) = {
    val (intents, _) = CellRetire.repair(store)
    var orphans = 0L
    CellFooterCache.committedDirs(store).foreach { d =>
      declaredVsDisk(new java.io.File(store, d)).foreach {
        case (declared, disk) =>
          disk.filterNot(f => declared.contains(f.getName))
            .foreach { f => f.delete(); orphans += 1 }
      }
    }
    val stale = staleTmpDirs(store)
    stale.foreach(FileUtils.deleteQuietly)
    val staleTmp = stale.size.toLong
    val droppedSnaps =
      if (!dropInvalidSnapshots) 0L
      else {
        val dead = GraftCellSnapshot.list(store).filter(_._3.nonEmpty)
        dead.foreach { case (n, _, _) =>
          GraftCellSnapshot.drop(store, n, sweep = false) }
        dead.size.toLong
      }
    // r19 (owner-identity r20): ORPHANED INDEX-SYNC snapshots —
    // `build_index` pins a `__idx_sync_*` snapshot on the base as the
    // incremental boundary; dropping the index table (or deleting a
    // path-mode index dir) leaves that pin behind, holding base
    // archive history forever. Orphanhood is decided by the OWNER
    // PATH the boundary itself records (ADVICE r19: bare
    // sibling-leaf existence both drops a live non-sibling index's
    // boundary and lets an unrelated same-named sibling keep a dead
    // one alive): orphan = the recorded index store is gone. Legacy
    // ownerless boundaries keep the sibling-leaf heuristic. A
    // transient `*_next` upper-bound pin (a crashed sync's leftover)
    // is reclaimed with the same rule via its own recorded owner —
    // the next sync recreates it.
    val orphanedIdx = GraftCellSnapshot.names(store)
      .filter(_.startsWith("__idx_sync_"))
      .filter { n =>
        GraftCellSnapshot.ownerOf(store, n) match {
          case Some(p) => !new java.io.File(p).isDirectory
          case None =>
            val leaf = n.stripPrefix("__idx_sync_")
            !new java.io.File(new java.io.File(store).getParentFile, leaf)
              .isDirectory ||
            // ADVICE r20 low: an ownerless LEGACY-named boundary is
            // superseded once a path-keyed boundary for the same leaf
            // exists (a rebuild/sync created or adopted it) — without
            // this the stale legacy pin holds base archive history for
            // as long as the index directory lives
            GraftCellSnapshot.names(store).exists(m =>
              m.startsWith(n + "_") && m.length == n.length + 9 &&
              m.drop(n.length + 1).forall(c =>
                c.isDigit || ('a' to 'f').contains(c)))
        }
      }
    orphanedIdx.foreach(GraftCellSnapshot.drop(store, _, sweep = false))
    // r17: the archive cleaner chore — reclaim archived files no
    // remaining snapshot pins (drop_snapshot sweeps too; this catches
    // manifests deleted out-of-band)
    val archiveReclaimed = CellArchive.sweep(store)
    CellFooterCache.invalidate(store)
    (intents, orphans, staleTmp, droppedSnaps, orphanedIdx.size.toLong,
     archiveReclaimed)
  }

  /** VERIFY REPLICATION — HBase's `VerifyReplication` job: a
    * DISTRIBUTED cell-level diff of two stores (primary vs replica,
    * source vs bulkloaded copy, table vs restored backup). Cells align
    * on the full cell key (rowkey, family, qualifier, version —
    * null-safe, so NULL components align rather than vanish) via one
    * sort-merge full-outer join — the one shuffle per side this
    * comparison inherently costs; at 100 TB it runs at cluster
    * bandwidth like the HBase MR job, never through the driver.
    * Assumes per-store cell-key uniqueness (the compacted store shape —
    * a store carrying duplicate keys compares pairwise, as the HBase
    * job's raw-scan alignment would). Returns (cells only in left,
    * cells only in right, value mismatches, matching cells). */
  def verifyRep(spark: org.apache.spark.sql.SparkSession,
                left: String, right: String): (Long, Long, Long, Long) = {
    val row = repDiff(spark, left, right).collect()(0)
    def g(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    (g(0), g(1), g(2), g(3))
  }

  /** The verify_rep diff frame itself (factored so `graft.Plans` can
    * dump its executed physical plan as scale evidence): one null-safe
    * full-outer sort-merge join on the full cell key, one partial+final
    * conditional-count aggregate. */
  private[graft] def repDiff(spark: org.apache.spark.sql.SparkSession,
                             left: String, right: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, sum, when}
    def side(p: String, tag: String) =
      spark.read.format("graftcell").load(p)
        .select(col("rowkey").as(s"${tag}_rowkey"),
                col("family").as(s"${tag}_family"),
                col("qualifier").as(s"${tag}_qualifier"),
                col("version").as(s"${tag}_version"),
                col("value").as(s"${tag}_value"),
                lit(1).as(s"${tag}_present"))
    val joined = side(left, "l").join(side(right, "r"),
      col("l_rowkey") <=> col("r_rowkey") &&
      col("l_family") <=> col("r_family") &&
      col("l_qualifier") <=> col("r_qualifier") &&
      col("l_version") <=> col("r_version"), "full_outer")
    def cnt(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    joined.agg(
      cnt(col("r_present").isNull).as("only_left"),
      cnt(col("l_present").isNull).as("only_right"),
      cnt(col("l_present").isNotNull && col("r_present").isNotNull &&
          !(col("l_value") <=> col("r_value"))).as("mismatch"),
      cnt(col("l_present").isNotNull && col("r_present").isNotNull &&
          (col("l_value") <=> col("r_value"))).as("matching"))
  }

  /** REBUCKET (r17): rewrite to a new bucket count, content VERBATIM,
    * as one [[rewrite]] with [[bucketTasks]] (no shuffle): one
    * bucket-pure, cell-key-sorted `-b<b>of<n>` file per non-empty
    * bucket, with `codecProps`' codecs, published as one
    * `batch_rebucket_*` dir replacing every committed dir. An untagged
    * file is read by every task, a file tagged `id of m` by n /
    * gcd(m, n) of them. The procedure repoints the descriptor AFTER
    * this commits; a crash in between leaves files the scan reads as
    * UNKEYED until a re-run. */
  def rebucket(spark: org.apache.spark.sql.SparkSession,
               store: String, n: Int,
               codecProps: Map[String, String] = Map.empty): Unit = {
    require(n >= 1 && n <= 4096,
      s"graftcell: rebucket count must be in [1, 4096], got $n")
    CellRetire.repair(store)
    val dirs = CellFooterCache.committedDirs(store)
    rewrite(spark, store, "rebucket",
      bucketTasks(CellFooterCache.filesOf(store), n, keep = None),
      CellCodecs.of(codecProps), replacedDirs = dirs)
  }

  /** MINOR COMPACTION — HBase's size-tiered minor compaction: merge
    * every committed batch dir whose total bytes are ≤ `maxBytes` into
    * ONE new batch, content verbatim, leaving larger generations
    * untouched. One [[rewrite]] of the victims' files in rowkey ranges
    * cut at byte-weighted quantiles of their manifest min keys, with
    * `codecProps`' codecs, published as one `batch_minor_*` dir that
    * replaces the victim dirs. Returns the merged (retired) dirs;
    * no-op below 2 victims. */
  def minorCompact(spark: org.apache.spark.sql.SparkSession,
                   store: String, maxBytes: Long,
                   codecProps: Map[String, String] = Map.empty)
      : Seq[String] = {
    // complete pending retirements first: retiring a victim dir drops
    // any intent it carries, and the files that intent still lists
    // would resurface in live listings
    CellRetire.repair(store)
    val victims = CellFooterCache.committedDirs(store).filter { d =>
      CellFooterCache.filesUnder(store, d).map(_.bytes).sum <= maxBytes
    }
    if (victims.size < 2) return Nil
    rewrite(spark, store, "minor",
      rangeTasks(spark, victims.flatMap(CellFooterCache.filesUnder(store, _)),
                 keep = None),
      CellCodecs.of(codecProps), replacedDirs = victims)
    victims
  }

  /** Per-COLUMN-FAMILY policy overrides (r17 — HBase sets TTL /
    * VERSIONS / KEEP_DELETED per family in the table descriptor): each
    * defined field overrides the table-level value for cells of that
    * family; an undefined field falls through to the table-level
    * policy. A hot `f:` family and an audit `a:` family can therefore
    * age differently under ONE compact. */
  final case class FamilyPolicy(ttlMicros: Option[Long] = None,
                                tombstone: Option[String] = None,
                                maxVersions: Option[Int] = None,
                                // r19: "current" (engine default) |
                                // "hide-all-older" (HBase markers)
                                deleteMarkers: Option[String] = None)

  private val DELETE_MARKER_MODES = Set("current", "hide-all-older")

  /** Major compaction's GC rule per cell key; a family's policy
    * overrides each table-level knob it defines. (1) TTL against
    * `maxVer`, the store's newest version; (2) `hide-all-older`: a
    * marker at V masks every version ≤ V and goes with them; (3) keep
    * the `maxVersions` newest by (version DESC NULLS LAST, value DESC
    * NULLS LAST — max value wins a same-version tie); (4) `current`:
    * the ranked markers are dropped. A NULL comparison drops the row. */
  private final class GcKeep(ttl: Option[Long], tomb: Option[String],
                             maxVersions: Int, markers: Option[String],
                             fams: Map[String, FamilyPolicy],
                             maxVer: Option[Long]) extends CellKeep {
    import CellWriteSupport.{F_IDX, V_IDX, VAL_IDX}
    private def ver(r: InternalRow): Option[Long] =
      if (r.isNullAt(V_IDX)) None else Some(r.getLong(V_IDX))
    private def value(r: InternalRow): UTF8String =
      if (r.isNullAt(VAL_IDX)) null else r.getUTF8String(VAL_IDX)
    @transient private lazy val newestFirst = Ordering.Tuple2(
      Ordering.Option(Ordering.Long),
      Ordering.Option(Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0))
    ).reverse

    def apply(group: scala.collection.IndexedSeq[InternalRow])
        : Iterable[InternalRow] = {
      val p = if (group.head.isNullAt(F_IDX)) None
              else fams.get(group.head.getUTF8String(F_IDX).toString)
      val ttlF = p.flatMap(_.ttlMicros).orElse(ttl)
      val tombF = p.flatMap(_.tombstone).orElse(tomb).map(UTF8String.fromString)
      val hideAll =
        p.flatMap(_.deleteMarkers).orElse(markers).contains("hide-all-older")
      def isMarker(r: InternalRow) = tombF.exists(_ == value(r))
      val live = ttlF.fold(group) { t =>
        val floor = maxVer.map(Math.subtractExact(_, t))
        group.filter(r => floor.exists(f => ver(r).exists(_ >= f)))
      }
      val masked =
        if (!hideAll) live
        else {
          val ceil = live.filter(isMarker).flatMap(ver).maxOption
          live.filter(r => !isMarker(r) &&
                           ceil.forall(c => ver(r).exists(_ > c)))
        }
      masked.indices
        .sortBy(i => (ver(masked(i)), Option(value(masked(i)))))(newestFirst)
        .take(p.flatMap(_.maxVersions).getOrElse(maxVersions))
        .filter(i => hideAll || tombF.forall(t =>
          value(masked(i)) != null && value(masked(i)) != t))
        .sorted.map(masked)
    }
  }

  /** MAJOR COMPACTION with GARBAGE COLLECTION — HBase's major
    * compaction as one [[rewrite]] of every live file with [[GcKeep]]
    * as its keep (newest `maxVersions` per cell key, tombstones and
    * TTL-expired versions dropped; the TTL clock is the store's newest
    * version, from the manifests — only legacy entries without one are
    * read, in one aggregate), published as one `batch_major_*` dir
    * replacing every committed dir. No shuffle. Unbucketed, the tasks
    * are [[minorCompact]]'s rowkey ranges; with `buckets` = n (the
    * descriptor's count: compaction keeps the salt layout, so SPJ
    * survives it) one task per bucket, as in [[rebucket]]
    * ([[bucketTasks]]). */
  def majorCompact(spark: org.apache.spark.sql.SparkSession,
                   store: String,
                   ttlMicros: Option[Long] = None,
                   tombstone: Option[String] = None,
                   maxVersions: Int = 1,
                   buckets: Option[Int] = None,
                   familyPolicies: Map[String, FamilyPolicy] = Map.empty,
                   codecProps: Map[String, String] = Map.empty,
                   deleteMarkers: Option[String] = None)
      : Unit = {
    require(maxVersions >= 1, s"maxVersions must be >= 1, got $maxVersions")
    (deleteMarkers.toSeq ++
     familyPolicies.values.flatMap(_.deleteMarkers)).foreach(v =>
      require(DELETE_MARKER_MODES.contains(v),
        s"delete_markers must be one of ${DELETE_MARKER_MODES.mkString("/")}" +
        s", got '$v'"))
    familyPolicies.foreach { case (f, p) =>
      p.maxVersions.foreach(v => require(v >= 1,
        s"family.$f.max_versions must be >= 1, got $v"))
      p.ttlMicros.foreach(v => require(v >= 0,
        s"family.$f.ttl_micros must be >= 0, got $v"))
    }
    CellRetire.repair(store)
    val dirs = CellFooterCache.committedDirs(store)
    val files = CellFooterCache.filesOf(store)
    val anyTtl = ttlMicros.isDefined ||
      familyPolicies.values.exists(_.ttlMicros.isDefined)
    val unknown = files.filter(m => m.rowCount > 0 && m.maxVer.isEmpty)
    val maxVer = if (!anyTtl) None else (files.flatMap(_.maxVer) ++ (
      if (unknown.isEmpty) Nil
      else spark.sparkContext.parallelize(unknown.map(_.path), unknown.size)
        .flatMap { f =>
          val st = new CellRowStream(Seq(f))
          try Iterator.continually(st.advance()).takeWhile(identity)
                .filterNot(_ => st.verNull).map(_ => st.ver).maxOption
          finally st.close()
        }.collect())).maxOption
    val keep = Some(new GcKeep(ttlMicros, tombstone, maxVersions,
      deleteMarkers, familyPolicies, maxVer))
    val tasks = buckets.fold(rangeTasks(spark, files, keep))(
      bucketTasks(files, _, keep))
    rewrite(spark, store, "major", tasks, CellCodecs.of(codecProps),
            replacedDirs = dirs)
  }
}

class GraftCellScanBuilder(path: String, snapshot: Option[String] = None,
                           maxPartBytes: Long = Long.MaxValue,
                           pinnedDirs: Option[Seq[CellGenPin]] = None,
                           since: Option[String] = None,
                           buckets: Option[Int] = None,
                           fuzzy: Option[String] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownTableSample {
  import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection, SortOrder => VSortOrder}
  import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = GraftCell.SCHEMA
  private var limit: Int = -1
  private var topNPushed = false
  private var aggPushed: Option[Aggregation] = None
  private var sample: Option[(Double, Long)] = None

  /** COMPLETE TABLESAMPLE pushdown — the HBase RandomRowFilter: the
    * reader drops non-sampled rows before they ever reach Spark (at
    * 100 TB a 1% sample probe moves 1% of the bytes off the executors,
    * and composes with the limit early-exit). The membership rule is
    * DETERMINISTIC ROW IDENTITY, not a PRNG: keep a cell iff
    * `md5("<seed>:<rowkey>:<qualifier>")`'s first 8 hex digits, mod
    * 10000, fall under `fraction * 10000` (NULL components hash as
    * empty strings). Same sample whatever the partitioning, file
    * layout, or task order — repeatable across runs AND re-layouts,
    * which a per-partition PRNG seed can never be — and exactly
    * recomputable by the DuckDB oracle from the same parquet. Bounds
    * other than [0, f], replacement sampling, and sampling under a
    * complete aggregate pushdown are refused (Spark keeps its own
    * Sample node). */
  override def pushTableSample(lowerBound: Double, upperBound: Double,
                               withReplacement: Boolean,
                               seed: Long): Boolean = {
    val ok = !withReplacement && lowerBound == 0.0 &&
      upperBound > 0.0 && upperBound <= 1.0 && aggPushed.isEmpty
    if (ok) sample = Some((upperBound, seed))
    ok
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(GraftCell.acceptable)
    pushed = ok
    rest // evaluated by Spark above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve store column order (projection = subset, order-stable),
    // plus any requested `_region_file` metadata column at the end;
    // under a complete agg pushdown the schema is the agg output and
    // is fixed by the agg scan itself
    if (aggPushed.isEmpty)
      required = StructType(
        GraftCell.SCHEMA.fields.filter(f => requiredSchema.fieldNames.contains(f.name)) ++
        requiredSchema.fields.filter(_.name == GraftCell.FILE_COL))

  /** PARTIAL limit pushdown: each region reader stops after `n` rows
    * (post-filter), Spark's GlobalLimit trims across partitions — the
    * scan-side early-exit that makes `LIMIT k` probes O(k) per region
    * instead of a full store read. */
  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed(): Boolean = true

  /** PARTIAL top-N pushdown, valid because region files are SORTED by
    * (rowkey, family, qualifier): when the requested ordering is a
    * same-direction prefix of the file sort order, each reader's first
    * k post-filter rows ARE its top-k, so the limit early-exit applies
    * and TakeOrderedAndProject merges k rows per region instead of
    * re-sorting the store. */
  override def pushTopN(orders: Array[VSortOrder], n: Int): Boolean = {
    val sortCols = Seq("rowkey", "family", "qualifier")
    val ok = orders.nonEmpty && orders.length <= sortCols.length &&
      orders.zip(sortCols).forall { case (o, c) =>
        o.expression().toString == c &&
        o.direction() == SortDirection.ASCENDING &&
        o.nullOrdering() == NullOrdering.NULLS_FIRST
      }
    if (ok) { limit = n; topNPushed = true }
    ok
  }

  /** COMPLETE aggregate pushdown from the manifest: ungrouped
    * COUNT(*) / MIN(rowkey) / MAX(rowkey) with NO pushed filters are
    * answered from footer statistics alone — a metadata-only query
    * (the coprocessor-aggregate analog: at 100 TB, zero data bytes
    * read). Any pushed filter, grouping, or other function refuses the
    * pushdown and the normal scan + Spark aggregation runs. */
  override def supportCompletePushDown(agg: Aggregation): Boolean = {
    // r16: FILTERED metadata aggregates — a rowkey-range-only predicate
    // whose bounds align with region-file boundaries (every file fully
    // in or fully out, the common case for band probes over sorted
    // non-overlapping regions) keeps COUNT/MIN/MAX answerable from the
    // manifest: count = Σ (rowCount − nullKeys) over the included
    // files. Any straddling file, unknown stat, or non-range filter
    // refuses, and the normal scan + Spark aggregation runs.
    val metas = CellFooterCache.filesOf(path, snapshot, pinnedDirs, since)
    val included: Option[Seq[CellFileMeta]] =
      if (pushed.isEmpty) Some(metas)
      else GraftCell.alignedFiles(pushed.toSeq, metas)
    // r19: GROUPED metadata aggregates — `COUNT(*) / MIN(version) /
    // MAX(version) GROUP BY family` are manifest-answerable when every
    // live file is FAMILY-PURE (minFam == maxFam) with a known
    // NULL-family count: each file contributes whole to exactly one
    // group (+ its nulls to the NULL group). The per-family INSERT /
    // per-CF store-file layout makes purity the common case; ANY
    // straddling file, unknown stat, filter, or other grouping refuses
    // and the normal scan runs — evidence-only, like every metadata
    // answer. Version MIN/MAX additionally require the file to be
    // GROUP-PURE OUTRIGHT (nullFams 0 or rowCount): a mixed file's
    // version TimeRange spans the family group AND the NULL group, so
    // neither group's extreme is attributable — COUNT alone tolerates
    // the mix because nullFams splits it exactly.
    def versionAgg(e: AggregateFunc): Boolean = e match {
      case m: Min => m.column().toString == "version"
      case m: Max => m.column().toString == "version"
      case _ => false
    }
    def rowkeyAgg(e: AggregateFunc): Boolean = e match {
      case m: Min => m.column().toString == "rowkey"
      case m: Max => m.column().toString == "rowkey"
      case _ => false
    }
    // a version extreme needs a known TimeRange on every row-bearing
    // file; None is indistinguishable from "legacy manifest" (refuse)
    def verStatsOk(ms: Seq[CellFileMeta]): Boolean =
      ms.filter(_.rowCount > 0)
        .forall(m => m.minVer.isDefined && m.maxVer.isDefined)
    def keyStatsOk(ms: Seq[CellFileMeta]): Boolean =
      ms.filter(_.rowCount > 0)
        .forall(m => m.minKey.isDefined && m.maxKey.isDefined)
    val gExprs = agg.aggregateExpressions()
    // grouped extremes (version or rowkey) attribute a file's stat
    // range to ONE group, so the file must be GROUP-PURE OUTRIGHT
    // (nullFams 0 or rowCount); grouped COUNT alone tolerates mixed
    // files because nullFams splits the count exactly — except under
    // a pushed (region-aligned) rowkey filter, where the excluded
    // NULL-rowkey rows are not attributable across a mixed file's two
    // groups, so the filter also demands outright purity.
    // A pushed rowkey filter admits one more subtlety: a NULL-rowkey
    // row never satisfies it, yet its VERSION still sits inside the
    // file's TimeRange — so version extremes under a filter require
    // nullKeys == 0 per file (rowkey extremes are immune: key stats
    // already exclude NULL keys, and every non-null key of an aligned
    // file passes).
    val extremeAgg = (e: AggregateFunc) => versionAgg(e) || rowkeyAgg(e)
    val gMetas = included.getOrElse(Seq.empty).filter(_.rowCount > 0)
    val groupedOk = agg.groupByExpressions().length == 1 &&
      agg.groupByExpressions()(0).toString == "family" &&
      gExprs.nonEmpty &&
      gExprs.forall(e => e.isInstanceOf[CountStar] || extremeAgg(e)) &&
      gMetas.forall(m =>
        m.nullFams.isDefined &&
        (m.nullFams.get == m.rowCount ||
         (m.minFam.isDefined && m.maxFam.isDefined &&
          JArrays.equals(m.minFam.get, m.maxFam.get)))) &&
      ((!gExprs.exists(extremeAgg) && pushed.isEmpty) ||
       gMetas.forall(m =>
         m.nullFams.get == 0L || m.nullFams.get == m.rowCount)) &&
      (pushed.isEmpty || gMetas.forall(_.nullKeys.isDefined)) &&
      (!gExprs.exists(versionAgg) ||
       (verStatsOk(gMetas) &&
        (pushed.isEmpty || gMetas.forall(_.nullKeys.contains(0L))))) &&
      (!gExprs.exists(rowkeyAgg) || keyStatsOk(gMetas))
    sample.isEmpty && // a sampled COUNT cannot come from manifest stats
    fuzzy.isEmpty && // fuzzy is row-level: stats cannot answer it
    included.isDefined &&
    (groupedOk || (agg.groupByExpressions().isEmpty &&
      gExprs.nonEmpty &&
      gExprs.forall {
        case _: CountStar => true
        case m: Min if m.column().toString == "version" =>
          verStatsOk(included.get) &&
          (pushed.isEmpty || included.get.forall(_.nullKeys.contains(0L)))
        case m: Max if m.column().toString == "version" =>
          verStatsOk(included.get) &&
          (pushed.isEmpty || included.get.forall(_.nullKeys.contains(0L)))
        case m: Min => m.column().toString == "rowkey" &&
          included.get.forall(_.minKey.nonEmpty)
        case m: Max => m.column().toString == "rowkey" &&
          included.get.forall(_.maxKey.nonEmpty)
        case _ => false
      }))
  }

  override def pushAggregation(agg: Aggregation): Boolean =
    if (supportCompletePushDown(agg)) { aggPushed = Some(agg); true }
    else false

  override def build(): Scan = aggPushed match {
    case Some(agg) =>
      new GraftCellAggScan(path, agg, snapshot, pinnedDirs, since, pushed)
    case None =>
      new GraftCellScan(path, pushed, required, limit, topNPushed, snapshot,
                        maxPartBytes, pinnedDirs, since, buckets, sample,
                        fuzzy)
  }
}

/** Metadata-only scan for completely-pushed aggregates: the driver
  * answers from the footer cache (manifest) and ships ONE row. Does NOT
  * implement runtime filtering — stats cannot see filters, so an
  * agg-pushed scan must never accept one (the builder already refuses
  * aggregation whenever any filter is pushed). */
class GraftCellAggScan(path: String,
    agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
    snapshot: Option[String] = None,
    pinnedDirs: Option[Seq[CellGenPin]] = None,
    since: Option[String] = None,
    pushed: Array[Filter] = Array.empty)
    extends Scan with Batch {
  import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}

  /** Unfiltered: every live file. Filtered (r16): exactly the files
    * fully inside the pushed rowkey range — the builder only pushes
    * the aggregate when that split is provable, so a None here means
    * the store changed shape between planning calls (refuse loudly
    * rather than answer wrong). */
  private lazy val metas: Seq[CellFileMeta] = {
    val all = CellFooterCache.filesOf(path, snapshot, pinnedDirs, since)
    if (pushed.isEmpty) all
    else GraftCell.alignedFiles(pushed.toSeq, all).getOrElse(
      throw new IllegalStateException(
        "graftcell: region-aligned aggregate eligibility changed " +
        "between planning and execution"))
  }

  private def grouped: Boolean = agg.groupByExpressions().nonEmpty

  /** (name, type) per pushed aggregate — schema from the EXPRESSIONS,
    * never from answer values (a NULL MIN must not mistype a column). */
  private def fields: Array[(String, org.apache.spark.sql.types.DataType)] =
    agg.aggregateExpressions().map {
      case _: CountStar => ("COUNT(*)", LongType)
      case m: Min if m.column().toString == "version" =>
        ("MIN(version)", LongType)
      case m: Max if m.column().toString == "version" =>
        ("MAX(version)", LongType)
      case m: Min if m.column().toString == "rowkey" =>
        ("MIN(rowkey)", StringType)
      case m: Max if m.column().toString == "rowkey" =>
        ("MAX(rowkey)", StringType)
      case other => throw new IllegalStateException(s"unpushable agg $other")
    }

  private def answers: Array[(String, Any)] =
    agg.aggregateExpressions().map {
      case _: CountStar =>
        // with a rowkey predicate, NULL-rowkey rows never qualify
        ("COUNT(*)",
         if (pushed.isEmpty) metas.map(_.rowCount).sum
         else metas.map(m => m.rowCount - m.nullKeys.get).sum)
      case m: Min if m.column().toString == "version" =>
        // the files' version TimeRanges (r19 — "oldest write"): exact
        // because parquet min/max skip NULL versions, like MIN itself
        ("MIN(version)", metas.flatMap(_.minVer)
          .reduceOption(math.min(_: Long, _: Long)).map(java.lang.Long.valueOf).orNull)
      case m: Max if m.column().toString == "version" =>
        ("MAX(version)", metas.flatMap(_.maxVer)
          .reduceOption(math.max(_: Long, _: Long)).map(java.lang.Long.valueOf).orNull)
      case m: Min if m.column().toString == "rowkey" =>
        ("MIN(rowkey)", metas.flatMap(_.minKey)
          .reduceOption((a, b) => GraftCell.UnsignedBytesOrd.min(a, b))
          .map(new String(_, java.nio.charset.StandardCharsets.UTF_8)).orNull)
      case m: Max if m.column().toString == "rowkey" =>
        ("MAX(rowkey)", metas.flatMap(_.maxKey)
          .reduceOption((a, b) => GraftCell.UnsignedBytesOrd.max(a, b))
          .map(new String(_, java.nio.charset.StandardCharsets.UTF_8)).orNull)
      case other => throw new IllegalStateException(s"unpushable agg $other")
    }

  /** GROUPED metadata answer (r19 — `COUNT(*) / MIN(version) /
    * MAX(version) GROUP BY family` from the manifest): the builder
    * only pushes this when every live file is FAMILY-PURE (minFam ==
    * maxFam) with known nullFams, so each file contributes
    * (rowCount − nullFams) to its family's group and nullFams to the
    * NULL group; version extremes additionally required group-pure
    * files outright (nullFams 0 or rowCount), so each file's version
    * TimeRange belongs whole to exactly one group. Output rows sorted
    * (NULL first) for determinism; one row per family, zero data bytes
    * at any size. */
  private def groupedRows: Seq[Array[Any]] = {
    final case class Acc(var n: Long = 0L,
                         var minV: Option[Long] = None,
                         var maxV: Option[Long] = None,
                         var minK: Option[Array[Byte]] = None,
                         var maxK: Option[Array[Byte]] = None)
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Option[String], Acc]
    def fold(f: Option[String], n: Long, m: CellFileMeta,
             owns: Boolean): Unit = {
      val a = groups.getOrElseUpdate(f, Acc())
      a.n += n
      // only the group owning the WHOLE file may claim its stat
      // ranges; the builder guarantees ownership whenever an extreme
      // agg is pushed (group-pure outright)
      if (owns) {
        a.minV = (a.minV ++ m.minVer).reduceOption(math.min(_: Long, _: Long))
        a.maxV = (a.maxV ++ m.maxVer).reduceOption(math.max(_: Long, _: Long))
        a.minK = (a.minK ++ m.minKey)
          .reduceOption(GraftCell.UnsignedBytesOrd.min(_, _))
        a.maxK = (a.maxK ++ m.maxKey)
          .reduceOption(GraftCell.UnsignedBytesOrd.max(_, _))
      }
    }
    metas.filter(_.rowCount > 0).foreach { m =>
      val fail = () => throw new IllegalStateException(
        "graftcell: grouped-aggregate eligibility changed between " +
        "planning and execution")
      val nf = m.nullFams.getOrElse(fail())
      // under a pushed (aligned) rowkey filter, the file's NULL-rowkey
      // rows never qualify; the builder guaranteed the file is
      // group-pure outright, so the whole deduction lands in its one
      // group
      val nk = if (pushed.isEmpty) 0L else m.nullKeys.getOrElse(fail())
      // a file whose every row is filtered out (all NULL rowkeys)
      // contributes no rows and no stats — it must not conjure a group
      if (m.rowCount - nk <= 0L) ()
      else if (nf == m.rowCount) fold(None, m.rowCount - nk, m, owns = true)
      else if (nf == 0L) {
        fold(Some(new String(m.minFam.get,
               java.nio.charset.StandardCharsets.UTF_8)),
             m.rowCount - nk, m, owns = true)
      } else {
        // mixed file: COUNT-only, unfiltered (builder-guaranteed)
        fold(None, nf, m, owns = false)
        fold(Some(new String(m.minFam.get,
               java.nio.charset.StandardCharsets.UTF_8)),
             m.rowCount - nf, m, owns = false)
      }
    }
    groups.toSeq.sortBy(_._1)
      .map { case (f, a) =>
        f.orNull +: agg.aggregateExpressions().map {
          case _: CountStar => a.n: Any
          case m: Min if m.column().toString == "version" =>
            a.minV.map(java.lang.Long.valueOf).orNull
          case m: Max if m.column().toString == "version" =>
            a.maxV.map(java.lang.Long.valueOf).orNull
          case m: Min if m.column().toString == "rowkey" =>
            a.minK.map(new String(_,
              java.nio.charset.StandardCharsets.UTF_8)).orNull
          case m: Max if m.column().toString == "rowkey" =>
            a.maxK.map(new String(_,
              java.nio.charset.StandardCharsets.UTF_8)).orNull
          case other =>
            throw new IllegalStateException(s"unpushable grouped agg $other")
        }
      }
  }

  override def readSchema(): StructType = {
    val aggFields = fields.map { case (n, t) =>
      // COUNT is never NULL; extremes may be (an empty included set)
      StructField(n, t, nullable = n != "COUNT(*)")
    }
    if (!grouped) StructType(aggFields)
    else StructType(StructField("family", StringType) +: aggFields)
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftCellAggScan path=$path, " +
    s"PushedAggregates: ${answers.map(_._1).mkString("[", ", ", "]")}, " +
    (if (grouped) "PushedGroupBy: [family], " else "") +
    s"PushedFilters: ${pushed.mkString("[", ", ", "]")} " +
    s"(answered from ${metas.size} region-aligned manifests, 0 data bytes)"

  override def planInputPartitions(): Array[InputPartition] =
    if (!grouped) Array(CellAggPartition(Array(answers.map(_._2))))
    else Array(CellAggPartition(groupedRows.toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    new CellAggReaderFactory()
}

final case class CellAggPartition(rows: Array[Array[Any]])
    extends InputPartition

class CellAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = p.asInstanceOf[CellAggPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(
        rows(i).map {
          case s: String => UTF8String.fromString(s): Any
          case other     => other
        })
      override def close(): Unit = ()
    }
}

/** Per-file VALUE BLOOM (r19 — VERDICT r18 #7): point evidence for
  * `value = k` probes, generalizing the rowkey bloom machinery to the
  * value column at FILE granularity. The 64-byte truncated value
  * RANGE stats (r18) prune era bands; a point probe inside a band
  * needs membership evidence, which ranges cannot give — the manifest
  * carries a fixed 512-byte bloom (4096 bits, k=3, FNV-1a + avalanche
  * finalizer: deterministic across JVMs and partitionings) per region
  * file, built exactly while writing. A SATURATED bloom (> half bits
  * set, ≈ >950 distinct values) is stored as None — no evidence, keep
  * the file — so high-cardinality value columns cost nothing and prune
  * nothing, while the time-batched / enum-valued stores that motivate
  * SingleColumnValueFilter probes skip whole files. Evidence-only like
  * every pruning layer: the reader still evaluates exactly. */
object CellValueBloom {
  val BYTES = 512
  private val BITS = BYTES * 8
  private val K = 3

  /** 64-bit FNV-1a with a splitmix-style finalizer (FNV alone clusters
    * low bits on short ASCII values). */
  private def hash(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L; h ^= h >>> 33
    h
  }
  private def bit(h: Long, i: Int): Int = {
    val x = h + i.toLong * 0x9e3779b97f4a7c15L
    ((x ^ (x >>> 32)).toInt & Int.MaxValue) % BITS
  }

  def empty(): Array[Byte] = new Array[Byte](BYTES)

  def add(bloom: Array[Byte], value: Array[Byte]): Unit = {
    val h = hash(value)
    var i = 0
    while (i < K) {
      val p = bit(h, i)
      bloom(p >> 3) = (bloom(p >> 3) | (1 << (p & 7))).toByte
      i += 1
    }
  }

  def mayContain(bloom: Array[Byte], value: Array[Byte]): Boolean = {
    val h = hash(value)
    var i = 0
    while (i < K) {
      val p = bit(h, i)
      if ((bloom(p >> 3) & (1 << (p & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** Some(bloom) iff still informative (≤ half the bits set). */
  def finish(bloom: Array[Byte]): Option[Array[Byte]] = {
    var set = 0
    var i = 0
    while (i < bloom.length) {
      set += java.lang.Integer.bitCount(bloom(i) & 0xff); i += 1
    }
    if (set * 2 <= BITS) Some(bloom) else None
  }
}

/** One pinned generation of a `TIMESTAMP AS OF` read (r18): a live dir
  * served wholesale (`names` = None), or an `_archive/<dir>` slice
  * restricted to exactly the retirement-time file names from the
  * travel log. */
final case class CellGenPin(dir: String, names: Option[Set[String]] = None)

/** Per-file metadata from the parquet footer (the manifest entry).
  * `minVer`/`maxVer` are the version column's footer stats — the HBase
  * HFile TimeRange tracker analog, so time-range scans can skip whole
  * region files (generations written in different eras never get
  * read). */
final case class CellFileMeta(path: String, bytes: Long, rowCount: Long,
                              minKey: Option[Array[Byte]],
                              maxKey: Option[Array[Byte]],
                              messageType: String,
                              minVer: Option[Long] = None,
                              maxVer: Option[Long] = None,
                              // r16: FAMILY/QUALIFIER min/max (the
                              // per-CF store-file analog) — family-era
                              // pruning for qualifier-only predicates;
                              // None on legacy manifests (keep)
                              minFam: Option[Array[Byte]] = None,
                              maxFam: Option[Array[Byte]] = None,
                              minQual: Option[Array[Byte]] = None,
                              maxQual: Option[Array[Byte]] = None,
                              // r16: NULL-rowkey row count — what makes
                              // a FILTERED COUNT(*) answerable from the
                              // manifest exactly (rowkey predicates
                              // exclude nulls; min/max stats can't see
                              // them). None on legacy manifests =
                              // unknown (refuse the metadata answer)
                              nullKeys: Option[Long] = None,
                              // r18: VALUE min/max (the HBase
                              // SingleColumnValueFilter analog's file
                              // pruning) — TRUNCATION-SOUND bounds
                              // (min prefix-truncated low, max
                              // prefix-stopped high, see
                              // GraftCell.truncStat*) so document-sized
                              // values cost ≤ 2×64 bytes per manifest
                              // entry. None on older manifests (keep)
                              minVal: Option[Array[Byte]] = None,
                              maxVal: Option[Array[Byte]] = None,
                              // r19: NULL-family row count — the
                              // evidence a GROUPED metadata COUNT
                              // needs to place NULL-family rows (the
                              // nullKeys precedent, one column over).
                              // None on older manifests = unknown
                              // (refuse the grouped metadata answer)
                              nullFams: Option[Long] = None,
                              // r19: per-file VALUE bloom (see
                              // [[CellValueBloom]]) — point evidence
                              // for value probes; None = saturated or
                              // legacy (keep the file)
                              valueBloom: Option[Array[Byte]] = None)

/** The one atomic JSON writer of the store's metadata files (manifests,
  * snapshot manifests, catalog markers): write `value` to `tmp`, then
  * rename it over `dest` in one step, so a reader sees the old file or
  * the new one, never a torn one. */
private[cell] object CellJson {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def writeAtomic(tmp: java.io.File, dest: java.io.File, value: AnyRef): Unit = {
    java.nio.file.Files.write(tmp.toPath, mapper.writeValueAsBytes(value))
    java.nio.file.Files.move(tmp.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }
}

/** PERSISTED per-dir manifest (`_manifest.json` inside each committed
  * batch dir) — the metadata a real 100 TB deployment keeps next to the
  * data so the driver NEVER opens parquet footers at plan time. The
  * write path already knows every stat it commits (each task tracks
  * min/max rowkey bytes, min/max version, row and byte counts while
  * writing — see [[CellFileWriter]]), ships them in the commit message,
  * and the driver writes the manifest into the stage dir BEFORE the
  * atomic publish rename — so manifest and data appear together or not
  * at all. `committedAtMicros` is stamped monotonically per store
  * (max(now, newest existing + 1)), which is what `TIMESTAMP AS OF`
  * time travel resolves against: strictly ordered commit times even
  * for sub-microsecond commit bursts.
  *
  * Reads fall back to footer opens for legacy dirs (e.g. the plain
  * parquet stager's `region=k` dirs) — the manifest is an accelerator,
  * never a correctness dependency: stats only ever SKIP files, and
  * [[CellFooterCache.footerOpens]] counts the fallback so the spec can
  * pin "zero footer opens on a manifest-bearing store". A retired dir
  * takes its manifest down with it. */
object CellManifest {
  val NAME = "_manifest.json"
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val b64e = java.util.Base64.getEncoder
  private val b64d = java.util.Base64.getDecoder

  final case class Data(committedAtMicros: Long, files: Seq[CellFileMeta])

  /** One manifest entry as a JSON node (name-relative). */
  private def encodeMeta(
      o: com.fasterxml.jackson.databind.node.ObjectNode,
      m: CellFileMeta): Unit = {
    o.put("name", new java.io.File(m.path).getName)
    o.put("bytes", m.bytes)
    o.put("rows", m.rowCount)
    m.minKey.foreach(k => o.put("minKey", b64e.encodeToString(k)))
    m.maxKey.foreach(k => o.put("maxKey", b64e.encodeToString(k)))
    m.minVer.foreach(v => o.put("minVer", v))
    m.maxVer.foreach(v => o.put("maxVer", v))
    m.minFam.foreach(k => o.put("minFam", b64e.encodeToString(k)))
    m.maxFam.foreach(k => o.put("maxFam", b64e.encodeToString(k)))
    m.minQual.foreach(k => o.put("minQual", b64e.encodeToString(k)))
    m.maxQual.foreach(k => o.put("maxQual", b64e.encodeToString(k)))
    m.nullKeys.foreach(n => o.put("nullKeys", n))
    m.minVal.foreach(k => o.put("minVal", b64e.encodeToString(k)))
    m.maxVal.foreach(k => o.put("maxVal", b64e.encodeToString(k)))
    m.nullFams.foreach(n => o.put("nullFams", n))
    m.valueBloom.foreach(b => o.put("valueBloom", b64e.encodeToString(b)))
    o.put("messageType", m.messageType)
    ()
  }

  /** Inverse of [[encodeMeta]]: the meta's `path` resolves under
    * `dir`. */
  private def decodeMeta(dir: java.io.File,
      o: com.fasterxml.jackson.databind.JsonNode): CellFileMeta =
    CellFileMeta(
      new java.io.File(dir, o.get("name").asText()).getPath,
      o.get("bytes").asLong(), o.get("rows").asLong(),
      Option(o.get("minKey")).map(n => b64d.decode(n.asText())),
      Option(o.get("maxKey")).map(n => b64d.decode(n.asText())),
      o.get("messageType").asText(),
      Option(o.get("minVer")).map(_.asLong()),
      Option(o.get("maxVer")).map(_.asLong()),
      Option(o.get("minFam")).map(n => b64d.decode(n.asText())),
      Option(o.get("maxFam")).map(n => b64d.decode(n.asText())),
      Option(o.get("minQual")).map(n => b64d.decode(n.asText())),
      Option(o.get("maxQual")).map(n => b64d.decode(n.asText())),
      Option(o.get("nullKeys")).map(_.asLong()),
      Option(o.get("minVal")).map(n => b64d.decode(n.asText())),
      Option(o.get("maxVal")).map(n => b64d.decode(n.asText())),
      Option(o.get("nullFams")).map(_.asLong()),
      Option(o.get("valueBloom")).map(n => b64d.decode(n.asText())))

  /** Persist `dir`'s manifest. Entries store file NAMES only and are
    * sorted by name, so `metas` may point into any dir (a tmp write
    * dir, the live dir, the archive) and still describe `dir`. */
  def write(dir: java.io.File, committedAtMicros: Long,
            metas: Seq[CellFileMeta]): Unit = {
    val root = mapper.createObjectNode()
    root.put("v", 1)
    root.put("committedAtMicros", committedAtMicros)
    val arr = root.putArray("files")
    metas.sortBy(m => new java.io.File(m.path).getName)
      .foreach(m => encodeMeta(arr.addObject(), m))
    CellJson.writeAtomic(new java.io.File(dir, NAME + ".tmp"),
                         new java.io.File(dir, NAME), root)
  }

  def read(dir: java.io.File): Option[Data] = {
    val f = new java.io.File(dir, NAME)
    if (!f.exists()) return None
    val root = mapper.readTree(java.nio.file.Files.readAllBytes(f.toPath))
    val files = root.get("files").elements().asScala
      .map(decodeMeta(dir, _)).toSeq
    Some(Data(root.get("committedAtMicros").asLong(), files))
  }

  /** Drop the entries in `removed` (absolute file paths) from a dir's
    * manifest, if it has one. The commit stamp is preserved — losing
    * files does not create a new generation. No-op for manifest-less
    * dirs (they already fall back to footer reads). */
  def removeEntries(dir: java.io.File, removed: Set[String]): Unit =
    read(dir).foreach { d =>
      write(dir, d.committedAtMicros,
            d.files.filterNot(m => removed.contains(m.path)))
    }

  /** Monotonic commit stamp for a store: strictly greater than every
    * existing dir's stamp AND every travel-log event stamp, and at
    * least the wall clock. Dirs without a manifest contribute their
    * directory mtime (legacy fallback). The travel-log floor (ADVICE
    * r18) anchors stamps that only the LOG still persists — the
    * superseding stamp of a dir that was itself retired later, or an
    * older release's in-dir DELETE rename stamp — so a backwards clock
    * step can never hand a later commit a stamp BELOW an
    * already-logged event, which would break the log's
    * strictly-monotonic replay order (a travel into that window would
    * reconstruct a state that never existed). */
  def nextCommitStamp(store: String): Long = {
    val existing = CellFooterCache.committedDirs(store).map { d =>
      val dir = new java.io.File(store, d)
      read(dir).map(_.committedAtMicros)
        .getOrElse(dir.lastModified() * 1000L)
    } ++ CellTravelLog.read(store).map(_.at)
    math.max(System.currentTimeMillis() * 1000L,
             existing.maxOption.getOrElse(Long.MinValue) match {
               case Long.MinValue => Long.MinValue + 1
               case m => m + 1
             })
  }

  /** Commit stamp of one committed dir (manifest, else dir mtime). */
  def commitStampOf(store: String, dirName: String): Long = {
    val dir = new java.io.File(store, dirName)
    read(dir).map(_.committedAtMicros).getOrElse(dir.lastModified() * 1000L)
  }
}

/** RETIRE INTENTS — the crash/race shield of every replacing publish
  * ([[GraftCellMaintenance.publishReplacement]]: group-granular DML,
  * truncate overwrites, maintenance). Such a commit must (1) publish
  * the new rows as a new batch dir and (2) retire what it replaced;
  * the two cannot be one atomic rename. The intent closes the gap: the
  * new batch dir is published WITH a `_retire.json` listing the
  * replaced region files and the replaced dirs (one atomic rename
  * covers data + intent), and every BATCH reader excludes
  * intent-listed files from planning — so a reader racing the
  * retirement, or a store recovered from a crash after the rename,
  * never double-counts a replaced row. [[complete]] carries the
  * retirement out and drops the intent: the publish calls it right
  * after its rename, and `CALL <cat>.repair('<table>')` (which the
  * maintenance verbs also run first) calls it for each intent a crash
  * left pending, so a commit finishes through one code path whether or
  * not it was interrupted. The streaming (replication-log) reader
  * deliberately does NOT apply intents: it replays committed batches
  * as written, log semantics. */
object CellRetire {
  val NAME = "_retire.json"
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Written into the STAGE dir before the publish rename, as
    * `{"files":[replaced paths],"dirs":[replaced dir names]}`. */
  def write(dir: java.io.File, replaced: Seq[String],
            replacedDirs: Seq[String] = Nil): Unit = {
    val root = mapper.createObjectNode()
    val files = root.putArray("files")
    replaced.sorted.foreach(files.add)
    val dirs = root.putArray("dirs")
    replacedDirs.sorted.foreach(dirs.add)
    java.nio.file.Files.write(new java.io.File(dir, NAME).toPath,
      mapper.writeValueAsBytes(root))
    ()
  }

  /** (replaced paths, replaced dir names). Intents of older releases
    * still parse: a bare array of paths, or `{"archive":…,"files":…}`;
    * both list no dirs. */
  private def parse(dir: java.io.File): (Seq[String], Seq[String]) = {
    val f = new java.io.File(dir, NAME)
    if (!f.exists()) return (Nil, Nil)
    val root = mapper.readTree(java.nio.file.Files.readAllBytes(f.toPath))
    def strings(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
      Option(n).map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Nil)
    if (root.isArray) (strings(root), Nil)
    else (strings(root.get("files")), strings(root.get("dirs")))
  }

  def read(dir: java.io.File): Seq[String] = parse(dir)._1

  def clear(dir: java.io.File): Unit = {
    new java.io.File(dir, NAME).delete(); ()
  }

  /** All retired file paths across a store's committed dirs (transient
    * — never cached; one existence probe per dir per plan). */
  def retiredOf(store: String): Set[String] =
    CellFooterCache.committedDirs(store)
      .flatMap(d => read(new java.io.File(store, d))).toSet

  /** Carry out the retirement `dir`'s intent lists, then drop the
    * intent. Per victim dir: log the retirement in the travel log
    * (superseded by `dir`'s commit) while the dir still exists, archive
    * its snapshot-pinned victims, delete them, fold the removal into
    * its manifest, and drop the dir once it holds no data. Then retire
    * what is left of the replaced dirs — data-less truncate/restore
    * markers, empty batches — archived if a snapshot pins them.
    * Idempotent from any crash point: every step skips what an earlier
    * attempt already did, except the travel-log retire, whose repeat
    * replays as the same event. Returns the files deleted. */
  def complete(store: String, dir: java.io.File): Long = {
    val (files, dirs) = parse(dir)
    val pinned = CellArchive.pins(store) // once per intent, not per dir
    val supersededAt = CellManifest.commitStampOf(store, dir.getName)
    var removed = 0L
    files.groupBy(f => new java.io.File(f).getParent).foreach {
      case (parent, victims) =>
        val pdir = new java.io.File(parent)
        val live = victims.filter(f => new java.io.File(f).isFile)
        if (pdir.isDirectory)
          CellTravelLog.retire(store, pdir.getName,
            CellManifest.commitStampOf(store, pdir.getName),
            victims.map(f => new java.io.File(f).getName), supersededAt)
        CellArchive.archiveRetiring(store, pdir.getName,
          live.map(f => new java.io.File(f).getName).toSet, pinned)
        live.foreach { f => new java.io.File(f).delete(); removed += 1 }
        CellManifest.removeEntries(pdir, victims.toSet)
        val remaining = Option(pdir.listFiles).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        if (remaining.isEmpty && pdir.getName != dir.getName)
          FileUtils.deleteQuietly(pdir)
    }
    // the footer cache still lists the files deleted above
    CellFooterCache.invalidate(store)
    dirs.filterNot(_ == dir.getName).map(new java.io.File(store, _))
      .filter(_.isDirectory)
      .foreach(d => CellArchive.retireDir(store, d, pinned))
    clear(dir)
    CellFooterCache.invalidate(store)
    removed
  }

  /** An in-dir rewrite intent: what an interrupted ranged DELETE of an
    * older release left in its dir. Today's DELETE publishes through
    * the replacing publish and never writes one. */
  val LEGACY_REWRITE_INTENT = "_rewrite_intent.json"

  /** [[complete]] every pending retirement. Returns (intents
    * completed, files deleted). Refuses a store holding an older
    * release's in-dir rewrite intent: completing it took a protocol
    * that is gone, and ignoring it could leave the travel log
    * recording a rename the manifest never made. */
  def repair(store: String): (Long, Long) = {
    var intents = 0L
    var removed = 0L
    CellFooterCache.committedDirs(store).map(new java.io.File(store, _))
      .foreach { dir =>
        if (new java.io.File(dir, LEGACY_REWRITE_INTENT).exists())
          throw new IllegalStateException(
            s"graftcell: ${dir.getPath} holds $LEGACY_REWRITE_INTENT, an " +
            "interrupted ranged DELETE that an older release wrote; " +
            "finish it with that release (CALL repair) before using " +
            "this one")
        if (new java.io.File(dir, NAME).exists()) {
          intents += 1
          removed += complete(store, dir)
        }
      }
    (intents, removed)
  }
}

object CellFooterCache {
  /** Driver-side footer cache, one entry PER COMMITTED DIRECTORY — the
    * manifest a real deployment persists next to the data. Directories
    * are write-once (the stager writes each `region=k` exactly once; the
    * connector write path publishes a `batch_<id>` dir by one atomic
    * rename), so a dir's footer set never changes after it becomes
    * visible and the per-dir cache needs no TTL. The directory LISTING
    * is never cached: a new committed batch is visible to the next scan
    * (and to the streaming source's offset poll) immediately. */
  private val dirCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[CellFileMeta]]

  def invalidate(store: String): Unit = {
    val prefix = new java.io.File(store).getPath + java.io.File.separator
    dirCache.keys.filter(_.startsWith(prefix)).foreach(dirCache.remove)
  }

  /** Committed data dirs under a store root, sorted by name: `region=k`
    * from the stager, `batch_<id>` from the connector write path. Dirs
    * starting with "_"/"." are uncommitted staging or metadata — and
    * because the write path publishes by atomic `_stage_*` → `batch_*`
    * rename, a listed dir is always a COMPLETE batch. */
  def committedDirs(store: String): Seq[String] =
    Option(new java.io.File(store).listFiles).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !d.getName.startsWith("_") &&
                   !d.getName.startsWith("."))
      .map(_.getName).sorted.toSeq

  /** Every batch-read entry point subtracts the store's RETIRE intents
    * (see [[CellRetire]]): a file listed by a committed intent is
    * already replaced by its publishing batch dir — planning it too
    * would double-count its rows during the delete window or after a
    * crash between publish and delete. The subtraction is by path, so
    * it holds in manifest-bearing and legacy manifest-less dirs alike
    * — which is what lets UPDATE/MERGE and DELETE replace legacy files
    * through the same publish. */
  def filesOf(store: String): Seq[CellFileMeta] = {
    val retired = CellRetire.retiredOf(store)
    committedDirs(store).flatMap(filesUnder(store, _))
      .filterNot(m => retired.contains(m.path))
  }

  /** Files of a store, optionally AS OF a named snapshot: pinned files
    * resolve LIVE-FIRST — sound because (dir, name) is write-once (a
    * live pinned name IS the pinned content: no rewrite reuses a
    * name) — then through `_archive/<dir>/` (r17 —
    * generations a compaction/truncate/restore/DML retired survive for
    * every snapshot that pins them, as in HBase's archive dir). A pin
    * in neither place reads as empty (`list_snapshots` reports it). */
  def filesOf(store: String, snapshot: Option[String]): Seq[CellFileMeta] =
    snapshot match {
      case None => filesOf(store)
      case Some(n) =>
        val retired = CellRetire.retiredOf(store)
        val pins = GraftCellSnapshot.pinned(store, n)
        pins.keys.toSeq.sorted
          .flatMap(d => CellArchive.resolvePinned(store, d, pins(d)))
          .filterNot(m => retired.contains(m.path))
    }

  /** Files of a store under an optional snapshot OR an explicit pinned
    * GENERATION set (TIMESTAMP AS OF resolution — computed by
    * `GraftCellCatalog.loadTable(ident, ts)` from the commit stamps and
    * the travel log): each pin is a live dir served wholesale, or an
    * `_archive/<dir>` slice restricted to exactly the file names the
    * travel log recorded at retirement (the archive dir can also hold
    * other eras' files — folded DML retirements — that must NOT ride
    * along). */
  def filesOf(store: String, snapshot: Option[String],
              pinnedDirs: Option[Seq[CellGenPin]]): Seq[CellFileMeta] =
    pinnedDirs match {
      case None => filesOf(store, snapshot)
      case Some(pins) =>
        val retired = CellRetire.retiredOf(store)
        pins.filter(p => new java.io.File(store, p.dir).isDirectory)
          .flatMap { p =>
            val fs = filesUnder(store, p.dir)
            p.names.fold(fs)(ns =>
              fs.filter(m => ns.contains(new java.io.File(m.path).getName)))
          }
          .filterNot(m => retired.contains(m.path))
    }

  /** Files of a store under an optional pin, MINUS the dirs a
    * `sinceSnapshot` pinned — the INCREMENTAL read (HBase incremental
    * backup / Iceberg incremental consumption): only the generations
    * committed AFTER the snapshot are planned, so a periodic consumer
    * reads O(delta), never O(store). Dir-granular by the same contract
    * as snapshots themselves (committed dirs are write-once): the
    * survivors of an UPDATE/MERGE or DELETE are a new batch dir, so
    * they read as delta, while the rows the DML removed from older
    * dirs do not show up here. An unknown since-snapshot fails loudly
    * inside [[GraftCellSnapshot.dirs]]. */
  def filesOf(store: String, snapshot: Option[String],
              pinnedDirs: Option[Seq[CellGenPin]],
              since: Option[String]): Seq[CellFileMeta] =
    since match {
      case None => filesOf(store, snapshot, pinnedDirs)
      case Some(n) =>
        val excl = GraftCellSnapshot.dirs(store, n).toSet
        filesOf(store, snapshot, pinnedDirs).filterNot(m =>
          excl.contains(new java.io.File(m.path).getParentFile.getName))
    }

  /** Count of driver-side parquet footer opens — the cost the persisted
    * manifest exists to eliminate. The manifest spec pins a scan of a
    * connector-written store to ZERO opens; the counter only moves on
    * the legacy (manifest-less) fallback below. */
  val footerOpens = new java.util.concurrent.atomic.AtomicLong(0L)

  /** File metas of one committed dir (cached — dirs are immutable).
    * Manifest-first: a dir committed by the connector carries
    * `_manifest.json` with every stat the planner needs, so the driver
    * opens NO footers for it (at millions of region files the footer
    * sweep would serialize the first plan on the driver). Entries whose
    * file has since been deleted (a crash inside
    * [[CellRetire.complete]], between a victim's deletion and its
    * manifest update) are dropped by an exists() stat — cheap, and conservative in the right direction (a listed-
    * but-missing file holds no rows). Legacy dirs (no manifest — e.g.
    * the plain-parquet stager's `region=k` layout) fall back to one
    * footer open per file, counted in [[footerOpens]]. */
  def filesUnder(store: String, dirName: String): Seq[CellFileMeta] =
    dirCache.getOrElseUpdate(
      new java.io.File(store, dirName).getPath, {
      CellManifest.read(new java.io.File(store, dirName)) match {
        case Some(m) =>
          m.files.filter(f => new java.io.File(f.path).isFile)
        case None => footerScan(store, dirName)
      }
    })

  private def footerScan(store: String, dirName: String): Seq[CellFileMeta] = {
      val files = Option(new java.io.File(store, dirName).listFiles)
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .sortBy(_.getPath)
      files.toSeq.map(f => metaOfFooter(f.getPath))
  }

  /** One file's exact manifest entry from its parquet footer — the
    * driver-side legacy fallback, and (r19) the EXECUTOR-side worker of
    * `CALL upgrade_manifests` (module-method call: the closure captures
    * nothing, the task ships clean). */
  private[graft] def metaOfFooter(path: String): CellFileMeta = {
      val conf = new Configuration()
      val f = new java.io.File(path)
      val in = HadoopInputFile.fromPath(new Path(f.getPath), conf)
      footerOpens.incrementAndGet()
      val r = ParquetFileReader.open(in)
      try {
          val md = r.getFooter
          val blocks = md.getBlocks.asScala.toSeq
          // binary (string) column stats, min/max across row groups
          def binStats(col: String): (Option[Array[Byte]], Option[Array[Byte]]) = {
            val stats = blocks.flatMap(_.getColumns.asScala
              .find(_.getPath.toDotString == col).map(_.getStatistics))
            val usable = stats.nonEmpty &&
              stats.forall(s => s != null && s.hasNonNullValue)
            if (!usable) (None, None)
            else (Some(stats.map(_.genericGetMin.asInstanceOf[Binary].getBytes)
                         .min(UnsignedBytes)),
                  Some(stats.map(_.genericGetMax.asInstanceOf[Binary].getBytes)
                         .max(UnsignedBytes)))
          }
          val (mn, mx) = binStats("rowkey")
          val (fmn, fmx) = binStats("family")
          val (qmn, qmx) = binStats("qualifier")
          val (vmnB, vmxB) = binStats("value")
          def nullsOf(col: String): Option[Long] = {
            val nstats = blocks.map(_.getColumns.asScala
              .find(_.getPath.toDotString == col).map(_.getStatistics))
            if (nstats.nonEmpty && nstats.forall(_.exists(s =>
                  s != null && s.isNumNullsSet)))
              Some(nstats.map(_.get.getNumNulls).sum)
            else None
          }
          // rowkey null count from the footer statistics (exactly what
          // the manifest's nullKeys re-derives); family null count the
          // same way (r19 — grouped metadata aggregates); unknown in
          // any block (isNumNullsSet false) ⇒ None
          val nulls = nullsOf("rowkey")
          val famNulls = nullsOf("family")
          val vstats = blocks.flatMap(_.getColumns.asScala
            .find(_.getPath.toDotString == "version").map(_.getStatistics))
          val vusable = vstats.nonEmpty &&
            vstats.forall(s => s != null && s.hasNonNullValue)
          val (vmn, vmx) =
            if (!vusable) (None, None)
            else (Some(vstats.map(_.genericGetMin.asInstanceOf[java.lang.Long]
                                    .longValue()).min),
                  Some(vstats.map(_.genericGetMax.asInstanceOf[java.lang.Long]
                                    .longValue()).max))
          CellFileMeta(f.getPath, f.length(),
                       blocks.map(_.getRowCount).sum, mn, mx,
                       md.getFileMetaData.getSchema.toString, vmn, vmx,
                       fmn, fmx, qmn, qmx, nulls,
                       vmnB.map(GraftCell.truncStatMin),
                       vmxB.flatMap(GraftCell.truncStatMax),
                       nullFams = famNulls)
        } finally r.close()
  }

  private object UnsignedBytes extends Ordering[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int =
      JArrays.compareUnsigned(a, b)
  }
}

class GraftCellScan(path: String, pushed: Array[Filter],
                    required: StructType, limit: Int = -1,
                    topN: Boolean = false,
                    snapshot: Option[String] = None,
                    maxPartBytes: Long = Long.MaxValue,
                    pinnedDirs: Option[Seq[CellGenPin]] = None,
                    since: Option[String] = None,
                    buckets: Option[Int] = None,
                    sample: Option[(Double, Long)] = None,
                    fuzzy: Option[String] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  // HBase FuzzyRowFilter (r17; pattern LIST since r18): parsed once;
  // prunes files by the fixed byte segments (leading-prefix interval +
  // min/max common-prefix disagreement), OR-union across patterns,
  // evaluated exactly per row in the reader
  private val fuzzyKeys: Seq[GraftCell.FuzzyKey] =
    fuzzy.fold(Seq.empty[GraftCell.FuzzyKey])(GraftCell.FuzzyKey.parseList)

  /** Every partition (a region file or a byte-range split of one) is
    * sorted by (rowkey, family, qualifier) — the declared write
    * ordering, preserved by splits. Reporting it lets Spark ELIDE
    * local sorts above the scan (e.g. a per-partition
    * sortWithinPartitions, or the sort side of a merge when
    * partitioning also lines up) — valid only for the columns still
    * in the projection, and only as a PREFIX ending before the first
    * projected-away sort column. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions => E, SortDirection}
    val projected = required.fieldNames.toSet
    Seq("rowkey", "family", "qualifier")
      .takeWhile(projected.contains)
      .map(c => E.sort(E.column(c), SortDirection.ASCENDING))
      .toArray
  }

  /** Runtime (DPP-style) filters delivered after the other join side
    * materializes — the HBase analog of seeking only the regions the
    * join's build-side keys live in. Accepted subset only; arrives
    * before planInputPartitions, so it participates in file pruning. */
  private var runtime: Array[Filter] = Array.empty

  private lazy val all = CellFooterCache.filesOf(path, snapshot, pinnedDirs, since)
  private def effective: Seq[Filter] = (pushed ++ runtime).toSeq
  private def selected = {
    val eff = effective
    val pruner = new GraftCell.FilePruner(eff)
    // bucket pruning stacks on the stat pruning: on a hash layout the
    // min/max stats span everything, the bucket tag is the evidence a
    // point get (or a runtime DPP key set) prunes by; fuzzy pruning
    // stacks the same way (fixed-position evidence the interval
    // algebra can't see) — a file survives a pattern LIST iff ANY
    // pattern could match it (the union of per-pattern survivors)
    val statKept = all.filter(m => pruner.mayMatch(m) &&
      (fuzzyKeys.isEmpty ||
       fuzzyKeys.exists(GraftCell.fuzzyMayMatch(m.minKey, m.maxKey, _))))
    GraftCell.bucketPrune(statKept, eff, buckets)
  }

  /** KEY-GROUPED partitioning of a bucketed store — what makes a join
    * of two co-bucketed cell tables SHUFFLE-FREE on both sides
    * (Spark's storage-partitioned join; needs
    * `spark.sql.sources.v2.bucketing.enabled`). Valid only on
    * EVIDENCE: the descriptor declares n buckets, rowkey is still
    * projected (the partition expression must resolve against the
    * output), and EVERY planned file carries a `-b<id>of<n>` tag whose
    * count matches the descriptor — a rewritten (compacted / split /
    * merged) file drops its tag, an adopted file may carry a foreign
    * count, and either silently degrades the scan to unkeyed (a
    * shuffle, never a wrong join). Computed over the PUSHED-filter
    * file set, deliberately ignoring runtime filters: Spark validates
    * the partition-key count reported at planning time, and a runtime
    * filter that empties a bucket must shrink the bucket's CONTENT
    * (planInputPartitions emits an empty keyed partition for it), not
    * the key set. */
  private lazy val keyedBuckets: Option[(Int, Array[Int])] =
    buckets.flatMap { n =>
      if (!required.fieldNames.contains("rowkey")) None
      else {
        val pruner = new GraftCell.FilePruner(pushed.toSeq)
        val sel = GraftCell.bucketPrune(
          all.filter(pruner.mayMatch), pushed.toSeq, buckets)
        val tags = sel.map(m => GraftBucket.parse(m.path))
        if (sel.nonEmpty && tags.forall(_.exists(_._2 == n)))
          Some((n, tags.flatten.map(_._1).distinct.sorted.toArray))
        else None
      }
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedBuckets match {
      case Some((n, ids)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .bucket(n, "rowkey")),
            ids.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Runtime-filterable columns. Guarded by the projection (r20):
    * Spark resolves these against the scan's OUTPUT, so reporting
    * `rowkey` on a rowkey-free projection (e.g. the IndexRoute probe,
    * which reads only the back-pointer `value` column) failed the
    * whole plan with "Unable to resolve rowkey" — a latent bug for
    * any narrow projection, surfaced by the first routed query. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (required.fieldNames.contains("rowkey"))
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column("rowkey"))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter(GraftCell.acceptable)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"GraftCellScan path=$path, " +
    snapshot.fold("")(n => s"snapshot=$n, ") +
    pinnedDirs.fold("")(ds => s"timestampPin=${ds.size} dirs, ") +
    since.fold("")(n => s"sinceSnapshot=$n, ") +
    s"PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
    s"ReadSchema: ${required.catalogString}, " +
    (if (limit >= 0) s"${if (topN) "topN" else "limit"}: $limit, " else "") +
    sample.fold("") { case (f, seed) => s"sample: $f seed=$seed, " } +
    fuzzy.fold("")(p => s"fuzzy: $p, ") +
    s"regionFiles: ${selected.size}/${all.size}"

  override def planInputPartitions(): Array[InputPartition] = {
    // fetch set = projected ∪ filter-referenced (store column order);
    // a pushed sample reads its identity columns even when projected away
    val eff = effective
    val need = required.fieldNames.toSet ++
      eff.flatMap(GraftCell.referenced) ++
      (if (sample.isDefined) Set("rowkey", "qualifier") else Set.empty) ++
      (if (fuzzy.isDefined) Set("rowkey") else Set.empty)
    val fetch = GraftCell.SCHEMA.fields.map(_.name).filter(need.contains)
    val base = selected.flatMap { m =>
      // Large region files SPLIT by byte range (row-group aligned by
      // parquet's midpoint rule, so every row group lands in exactly
      // one split): one region file is NOT the parallelism unit at
      // 100 TB — `option("maxPartitionBytes", n)` fans a multi-GB
      // region out across executors, like Spark's own file splits.
      // Note the pushed LIMIT stays per split (still a valid early
      // exit; GlobalLimit trims the extra).
      val nSplits =
        if (maxPartBytes <= 0 || m.bytes <= maxPartBytes) 1
        else ((m.bytes + maxPartBytes - 1) / maxPartBytes).toInt
      (0 until nSplits).map { i =>
        val start = i * (m.bytes / nSplits + 1)
        val end = if (i == nSplits - 1) Long.MaxValue
                  else (i + 1) * (m.bytes / nSplits + 1)
        CellInputPartition(m.path, fetch, required.fieldNames, eff.toArray,
                           limit, start, end,
                           sample.fold(-1.0)(_._1), sample.fold(0L)(_._2),
                           fuzzy.orNull)
      }
    }
    keyedBuckets match {
      case Some((_, ids)) =>
        // keyed mode: every partition carries its file's bucket id (the
        // HasPartitionKey Spark groups SPJ tasks by), and every bucket
        // the PLANNING-time report counted stays present — a runtime
        // filter that emptied one contributes an empty keyed partition,
        // keeping the key set exactly as validated
        val byBucket = base.groupBy(p => GraftBucket.parse(p.file).get._1)
        ids.flatMap { id =>
          byBucket.get(id) match {
            case Some(ps) => ps.map(p =>
              CellBucketInputPartition(p, id): InputPartition)
            case None =>
              Seq(CellEmptyInputPartition(id): InputPartition)
          }
        }.toArray
      case None => base.map(p => p: InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CellPartitionReaderFactory()

  /** Streaming read — the replication-log consumer over the same store
    * (see [[GraftCellMicroBatchStream]]). Spark's micro-batch planner
    * builds the scan without running relation pushdown, so `pushed` /
    * `required` are normally the identity here and filters run above
    * the scan; the stream still file-prunes per batch if any arrive. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(snapshot.isEmpty && pinnedDirs.isEmpty,
      "graftcell: a snapshot/timestamp pin is a frozen dir set — " +
      "batch-read it; the streaming source follows the LIVE " +
      "committed-dir log")
    require(fuzzy.isEmpty,
      "graftcell: the fuzzy option is a batch-scan probe; filter the " +
      "stream above the source instead")
    // sinceSnapshot composes WITH streaming: the pinned dir set becomes
    // the INITIAL offset, so a fresh checkpoint starts replicating from
    // the snapshot boundary instead of replaying the whole store
    new GraftCellMicroBatchStream(path, pushed, required, since)
  }

  override def estimateStatistics(): Statistics = new Statistics {
    // post-file-pruning size: what AQE/broadcast planning should see —
    // a band probe over a 100 TB store reports its few surviving
    // region files, so the planner can BROADCAST the pruned side of a
    // join instead of shuffling the fact table against it (spec-pinned:
    // a threshold between band size and table size broadcasts the band)
    // a pushed TABLESAMPLE keeps ~fraction of every file's rows — scale
    // both stats by it, or a 1% sample would still report 100% of the
    // rows and suppress exactly the broadcasts the pushdown enables
    private val frac = sample.map(_._1).getOrElse(1.0)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(
        math.max(1L, (selected.map(_.bytes).sum * frac).toLong))
    // exact row total of the planned files (manifest rowCount; the
    // residual row-level filter can only shrink it — same upper-bound
    // semantics as parquet's row-group stats), sample-scaled
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(
        math.max(if (selected.exists(_.rowCount > 0)) 1L else 0L,
                 (selected.map(_.rowCount).sum * frac).toLong))
  }
}

/** Streaming offset = the sorted set of committed batch/region dir
  * names already delivered. Dirs are write-once and published by atomic
  * rename, so "which dirs exist" is a monotone log — the same shape as
  * HBase replication's WAL position, here at batch granularity. JSON is
  * the canonical sorted array, so offset equality (what the engine uses
  * to decide "no new data") is set equality. */
final case class GraftCellOffset(dirs: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  require(dirs == dirs.sorted, "offset dirs must be sorted")
  override def json(): String =
    GraftCellOffset.mapper.writeValueAsString(dirs.toArray)
}

object GraftCellOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def of(dirs: Iterable[String]): GraftCellOffset =
    GraftCellOffset(dirs.toSeq.distinct.sorted)
  def fromJson(json: String): GraftCellOffset =
    of(mapper.readValue(json, classOf[Array[String]]).toSeq)
}

/** Micro-batch streaming source over a graftcell store — the HBase
  * REPLICATION consumer: every committed write batch (one atomically
  * renamed `batch_<id>`/`region=k` dir) becomes exactly one micro-batch,
  * delivered exactly once via the offset log in the checkpoint.
  *
  * Scale/semantics design:
  *  - Offsets are SETS of delivered dir names, not a numeric position —
  *    commit order of concurrent writers is irrelevant, only set
  *    difference matters, so two writers racing a commit cannot skip or
  *    double-deliver a batch.
  *  - Admission control paces ONE new dir per micro-batch (replication
  *    applies batch-by-batch, keeping per-trigger state bounded by one
  *    write's size); `Trigger.AvailableNow` pins the target dir set at
  *    start (`prepareForTriggerAvailableNow`) and drains to it, so a
  *    writer committing mid-drain moves the next run, not this one.
  *  - Each micro-batch plans one [[CellInputPartition]] per region file
  *    of its dirs — same reader, same footer pruning as the batch scan,
  *    so a filtered consumer still seeks regions instead of scanning.
  */
class GraftCellMicroBatchStream(path: String, pushed: Array[Filter],
                                required: StructType,
                                since: Option[String] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset, ReadLimit}

  /** AvailableNow target: the committed-dir set frozen at query start. */
  private var target: Option[Seq[String]] = None

  private def committed: Seq[String] = CellFooterCache.committedDirs(path)

  override def prepareForTriggerAvailableNow(): Unit =
    target = Some(committed)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Fresh-checkpoint start position: normally the empty set (replay
    * the whole committed log), or — under `sinceSnapshot` — the
    * snapshot's pinned dirs marked as already-delivered, so the stream
    * begins at the snapshot boundary (the HBase "enable replication
    * after a bootstrap snapshot" handoff: bulk-ship the snapshot,
    * then stream exactly what committed after it, no gap, no replay).
    * Resolved HERE, not at stream construction: a checkpoint RESUME
    * never calls initialOffset, so dropping the bootstrap snapshot
    * after the first run cannot break an established stream (the
    * offset log owns the position from then on). */
  override def initialOffset(): SOffset =
    GraftCellOffset.of(since.map(GraftCellSnapshot.dirs(path, _)).getOrElse(Nil))

  override def latestOffset(): SOffset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: SOffset, limit: ReadLimit): SOffset = {
    val seen = start.asInstanceOf[GraftCellOffset].dirs.toSet
    val next = target.getOrElse(committed)
      .filterNot(seen).sorted.take(1) // one replication batch per trigger
    GraftCellOffset.of(seen ++ next)
  }

  override def reportLatestOffset(): SOffset =
    GraftCellOffset.of(target.getOrElse(committed))

  override def deserializeOffset(json: String): SOffset =
    GraftCellOffset.fromJson(json)

  override def planInputPartitions(start: SOffset, end: SOffset): Array[InputPartition] = {
    val done = start.asInstanceOf[GraftCellOffset].dirs.toSet
    val newDirs = end.asInstanceOf[GraftCellOffset].dirs.filterNot(done)
    val need = required.fieldNames.toSet ++ pushed.flatMap(GraftCell.referenced)
    val fetch = GraftCell.SCHEMA.fields.map(_.name).filter(need.contains)
    val pruner = new GraftCell.FilePruner(pushed.toSeq)
    newDirs.flatMap(CellFooterCache.filesUnder(path, _))
      .filter(pruner.mayMatch)
      .map(m => CellInputPartition(m.path, fetch, required.fieldNames,
                                   pushed): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CellPartitionReaderFactory()

  override def commit(end: SOffset): Unit = () // offset log owns progress
  override def stop(): Unit = ()
  override def toString: String = s"GraftCellMicroBatchStream path=$path"
}

/** One partition = one region file (the HBase region-server unit), or
  * one byte-range SPLIT of a large region file (row-group aligned by
  * parquet's midpoint rule) when `maxPartitionBytes` is set. */
final case class CellInputPartition(file: String, fetch: Array[String],
                                    project: Array[String],
                                    filters: Array[Filter],
                                    limit: Int = -1,
                                    rangeStart: Long = 0L,
                                    rangeEnd: Long = Long.MaxValue,
                                    sampleFrac: Double = -1.0,
                                    sampleSeed: Long = 0L,
                                    fuzzyPattern: String = null)
    extends InputPartition

/** A [[CellInputPartition]] of a BUCKETED store, keyed by its file's
  * bucket id — the `HasPartitionKey` Spark's storage-partitioned join
  * groups tasks by (all splits of bucket k, both join sides, land in
  * the same task; no exchange). */
final case class CellBucketInputPartition(base: CellInputPartition,
                                          bucketId: Int)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

/** A bucket the planning-time key-grouped report counted whose every
  * file a RUNTIME filter then pruned: the key must stay in the planned
  * set (Spark validates the key count it was promised), the content is
  * legitimately empty. */
final case class CellEmptyInputPartition(bucketId: Int)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

class CellPartitionReaderFactory extends PartitionReaderFactory {
  /** Every graftcell read is columnar: Spark's default
    * `Scan.columnarSupportMode` is PARTITION_DEFINED, which asks this
    * per partition and requires one answer across a scan — always yes. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "graftcell: reads are columnar only (createColumnarReader)")

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case CellBucketInputPartition(base, _) =>
        new CellColumnarPartitionReader(base)
      case CellEmptyInputPartition(_) =>
        new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
          override def next(): Boolean = false
          override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
            throw new IllegalStateException("empty bucket partition")
          override def close(): Unit = ()
        }
      case p: CellInputPartition => new CellColumnarPartitionReader(p)
      case other => throw new IllegalArgumentException(
        s"graftcell: unexpected input partition $other")
    }
}

/** The region-file reader — the ONE decode path of every graftcell
  * read (batch scans, COW scans, micro-batch streams, the ranged-DELETE
  * rewrite and split/merge surgery). Parquet decodes into Spark
  * [[org.apache.spark.sql.vectorized.ColumnarBatch]]es through Spark's
  * own `VectorizedParquetRecordReader` — the columnar decode Spark's
  * native parquet scan uses, including lazy dictionary-backed string
  * vectors — and downstream operators get whole-stage-codegen
  * `ColumnarToRow` input.
  *
  * The reader picks its mode ONCE, from the partition:
  *  - no residual row-level work (no filters, fuzzy pattern or
  *    sample): each batch is a zero-copy projected VIEW over the
  *    decoder's reused vectors; a pushed LIMIT truncates the final
  *    batch (`setNumRows`);
  *  - residual work: the pushed predicate also rides Hadoop conf into
  *    parquet's row-group/page-index pruning (stats / dictionary /
  *    bloom) — which never decides membership — and the partition's
  *    [[CellResidual]] re-checks every decoded row exactly; survivors
  *    COMPACT into owned vectors in projected order, and a pushed LIMIT
  *    counts survivors and stops mid-batch.
  *
  * The hidden `_region_file` column rides Spark's partition-column
  * mechanism: `initBatch` appends one CONSTANT vector per batch, and
  * the projection maps (fetch ++ _region_file) order to the scan's
  * projected order. Byte-range splits map to a `FileSplit`
  * [start, start+length) with parquet's midpoint row-group rule. */
object CellColumnarPartitionReader {
  /** Batch row capacity: Spark's default 4096 doubled — the cell
    * schema is 4 short strings + a long, so 8192-row batches still sit
    * well under exec memory while halving per-batch bookkeeping. */
  private[cell] val CAPACITY = 8192
}

class CellColumnarPartitionReader(p: CellInputPartition)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import CellColumnarPartitionReader.CAPACITY

  private val residual: Option[CellResidual] =
    if (p.filters.nonEmpty || p.fuzzyPattern != null || p.sampleFrac >= 0)
      Some(new CellResidual(p))
    else None

  private val reader = {
    val fetchSchema = StructType(
      p.fetch.map(n => GraftCell.SCHEMA(GraftCell.SCHEMA.fieldIndex(n))))
    val conf = new Configuration()
    // Spark's vectorized reader resolves its catalyst schema from this
    // key (SpecificParquetRecordReaderBase.initialize); the boolean
    // knobs feed ParquetToSparkSchemaConverter and must be present.
    // The key string is ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA
    // (the object is private[parquet] — value pinned by spec).
    conf.set("org.apache.spark.sql.parquet.row.requested_schema",
             fetchSchema.json)
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    GraftCell.parquetPred(p.filters.toSeq).foreach(pred =>
      org.apache.parquet.hadoop.ParquetInputFormat
        .setFilterPredicate(conf, pred))
    val r = new org.apache.spark.sql.execution.datasources.parquet
      .VectorizedParquetRecordReader(
        null, // convertTz: cell columns are strings + one int64
        "CORRECTED", "UTC", "CORRECTED", "UTC", // rebase — no datetimes
        false, // on-heap: executors here run without off-heap pools
        CAPACITY)
    val length =
      if (p.rangeEnd == Long.MaxValue) Long.MaxValue - p.rangeStart
      else p.rangeEnd - p.rangeStart
    // the OLD-API FileSplit (it subclasses the mapreduce one): Spark's
    // initialize casts to it for its location-info accessors
    val split = new org.apache.hadoop.mapred.FileSplit(
      new Path(p.file), p.rangeStart, length, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    r.initialize(split, ctx)
    if (p.project.contains(GraftCell.FILE_COL))
      r.initBatch(
        StructType(Seq(StructField(GraftCell.FILE_COL, StringType, false))),
        new GenericInternalRow(Array[Any](UTF8String.fromString(p.file))))
    else
      r.initBatch(new StructType(), InternalRow.empty)
    r.enableReturningBatches()
    r
  }

  private val fetchIdx = p.fetch.zipWithIndex.toMap
  // filtering mode only: owned output vectors in projected order;
  // project column j reads fetched(outIdx(j)), -1 = the constant
  // `_region_file` metadata column
  private val outVectors: Array[OnHeapColumnVector] =
    if (residual.isEmpty) Array.empty
    else OnHeapColumnVector.allocateColumns(CAPACITY, StructType(
      p.project.map(n =>
        if (n == GraftCell.FILE_COL)
          StructField(GraftCell.FILE_COL, StringType, nullable = false)
        else GraftCell.SCHEMA(GraftCell.SCHEMA.fieldIndex(n)))))
  private val outIdx: Array[Int] =
    p.project.map(n => if (n == GraftCell.FILE_COL) -1 else fetchIdx(n))
  private val isVersion = p.fetch.map(_ == "version")
  private val fileBytes =
    p.file.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val fetched = new Array[Any](p.fetch.length)
  private val getField: String => Any = c => fetched(fetchIdx(c))

  // the batch get() hands out: the owned vectors (filtering mode), or
  // the projected view built on the first decoded batch (view mode)
  private var out: ColumnarBatch =
    if (residual.isEmpty) null
    else new ColumnarBatch(outVectors.map(v => v: ColumnVector))
  private var emitted = 0L

  private val advance: () => Boolean =
    residual.fold(nextView _)(r => () => nextFiltered(r))

  override def next(): Boolean =
    !(p.limit >= 0 && emitted >= p.limit) && advance()

  // projected view over the decoder's reused batch: fetch columns by
  // store position, `_region_file` from the appended constant vector —
  // built once (the decoder reuses its vectors across batches)
  private def nextView(): Boolean = {
    var n = 0
    var inner: ColumnarBatch = null
    do {
      if (!reader.nextBatch()) return false
      inner = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
      n = inner.numRows()
    } while (n == 0)
    if (out == null) {
      val cols: Array[ColumnVector] = p.project.map { name =>
        if (name == GraftCell.FILE_COL) inner.column(p.fetch.length)
        else inner.column(fetchIdx(name))
      }
      out = new ColumnarBatch(cols)
    }
    if (p.limit >= 0 && emitted + n > p.limit) n = (p.limit - emitted).toInt
    out.setNumRows(n)
    emitted += n
    true
  }

  private def nextFiltered(residual: CellResidual): Boolean = {
    while (reader.nextBatch()) {
      val inner = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
      val n = inner.numRows()
      var kept = 0
      var j = 0
      while (j < outVectors.length) { outVectors(j).reset(); j += 1 }
      var r = 0
      while (r < n && !(p.limit >= 0 && emitted + kept >= p.limit)) {
        var i = 0
        while (i < p.fetch.length) {
          val c = inner.column(i)
          fetched(i) =
            if (c.isNullAt(r)) null
            else if (isVersion(i)) java.lang.Long.valueOf(c.getLong(r))
            else c.getUTF8String(r)
          i += 1
        }
        if (residual.ok(getField)) {
          var k = 0
          while (k < outIdx.length) {
            val v = outVectors(k)
            if (outIdx(k) < 0) {
              v.putByteArray(kept, fileBytes, 0, fileBytes.length)
              ()
            } else fetched(outIdx(k)) match {
              case null => v.putNull(kept)
              case l: java.lang.Long => v.putLong(kept, l.longValue())
              case u: UTF8String =>
                val b = u.getBytes
                v.putByteArray(kept, b, 0, b.length)
                ()
            }
            k += 1
          }
          kept += 1
        }
        r += 1
      }
      if (kept > 0) {
        out.setNumRows(kept)
        emitted += kept
        return true
      }
    }
    false
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = out
  override def close(): Unit = reader.close()
}

/** The EXACT residual row predicate of a partition — pushed/runtime
  * filters (precompiled once: IN-lists become hash sets, so a 100k-key
  * runtime DPP list costs O(1) per row), fuzzy rowkey patterns, and
  * the deterministic TABLESAMPLE membership rule — in ONE place,
  * evaluated by [[CellColumnarPartitionReader]] against every decoded
  * row of a partition with residual work.
  *
  * Sample rule (see GraftCellScanBuilder.pushTableSample):
  * md5("<seed>:<rk>:<qual>"), first 4 bytes as an unsigned int, mod
  * 10000, under fraction·10000; NULL components hash as empty strings,
  * exactly like the oracle's coalesce. One MessageDigest per reader
  * (= per partition), reset per row. */
private[cell] final class CellResidual(p: CellInputPartition) {
  private val compiled = GraftCell.compileAll(p.filters)
  private val fuzzyKeys: Seq[GraftCell.FuzzyKey] =
    if (p.fuzzyPattern == null) Nil
    else GraftCell.FuzzyKey.parseList(p.fuzzyPattern)
  private val sampleThreshold: Int =
    if (p.sampleFrac >= 0) Math.round(p.sampleFrac * 10000).toInt else -1
  private val sampleMd =
    if (sampleThreshold >= 0) java.security.MessageDigest.getInstance("MD5")
    else null

  private def fuzzyOk(get: String => Any): Boolean = {
    if (fuzzyKeys.isEmpty) return true
    get("rowkey") match {
      case u: UTF8String =>
        val bytes = u.getBytes
        fuzzyKeys.exists(_.matches(bytes))
      case _             => false // NULL rowkey can never match
    }
  }

  private def sampled(get: String => Any): Boolean = {
    if (sampleThreshold < 0) return true
    val sb = new java.lang.StringBuilder()
    sb.append(p.sampleSeed).append(':')
    val rk = get("rowkey")
    if (rk != null) sb.append(rk.toString)
    sb.append(':')
    val q = get("qualifier")
    if (q != null) sb.append(q.toString)
    sampleMd.reset()
    val d = sampleMd.digest(
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
            ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    (v % 10000L) < sampleThreshold
  }

  def ok(get: String => Any): Boolean =
    compiled.forall(f => f(get)) && fuzzyOk(get) && sampled(get)
}

// ---------------------------------------------------------------------------
// Write path — "HBase connector for writes" (BASELINE.md approach line)
// ---------------------------------------------------------------------------

/** The connector DECLARES the HFile layout instead of trusting callers
  * to pre-shape the data: [[GraftCellWrite]] is a
  * `RequiresDistributionAndOrdering`, so Catalyst plans the range
  * shuffle + sort (rowkey-clustered, (rowkey, family, qualifier,
  * version)-sorted) in front of the write — exactly the one shuffle an
  * HBase bulk load runs (cf. `cell_bulkload_layout`), now owned by the
  * sink. Each task then writes ONE sorted, non-overlapping region file,
  * so footers carry tight min/max rowkey stats and the read side's
  * region pruning works on connector-written stores by construction.
  *
  * Commit protocol: tasks write to `_tmp_<queryId>/`, the commit
  * publishes the files as `batch_<queryId>/` through
  * [[GraftCellMaintenance.publishReplacement]] — readers never see
  * uncommitted files (the listing skips `_`-prefixed dirs). Abort
  * deletes the temp dir. At cluster scale the move is the
  * usual rename-based commit (object stores would swap in a manifest
  * commit, which [[CellFooterCache]] already models). */
class GraftCellWriteBuilder(path: String, queryId: String,
                            maxRowsPerFile: Long = -1L,
                            buckets: Option[Int] = None,
                            codecs: CellCodecs = CellCodecs.DEFAULT)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new GraftCellWrite(path, queryId, doTruncate, maxRowsPerFile, buckets,
                       codecs)
}

class GraftCellWrite(path: String, queryId: String, truncate: Boolean,
                     maxRowsPerFile: Long = -1L,
                     buckets: Option[Int] = None,
                     codecs: CellCodecs = CellCodecs.DEFAULT)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.expressions.{Expressions => E, SortDirection}
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}

  private def asc(c: String) =
    E.sort(E.column(c), SortDirection.ASCENDING)

  /** BUCKETED tables (descriptor `buckets` = n) cluster the write on
    * the catalog's `bucket(n, rowkey)` function instead of the global
    * rowkey range: every task holds whole buckets, rows arrive
    * bucket-grouped (the leading sort key) and cell-key-sorted within
    * each bucket, and the writer rolls a fresh BUCKET-PURE, bucket-
    * tagged region file per bucket — the layout the scan reports as
    * `KeyGroupedPartitioning`, which is what lets two co-bucketed
    * stores JOIN WITH NO SHUFFLE ON EITHER SIDE (Spark's storage-
    * partitioned join). Catalyst resolves the transform through the
    * table's FunctionCatalog; `buckets` comes only from a catalog
    * table's descriptor, so the transform always resolves (a
    * path-addressed write never buckets — `rebucket` is a
    * [[GraftCellMaintenance.rewrite]], not a write). */
  override def requiredDistribution(): Distribution = buckets match {
    case Some(n) => Distributions.clustered(Array(E.bucket(n, "rowkey")))
    case None    => Distributions.ordered(Array(asc("rowkey")))
  }
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val cellKey = Array(asc("rowkey"), asc("family"), asc("qualifier"),
                        asc("version"))
    buckets.fold(cellKey)(n =>
      E.sort(E.bucket(n, "rowkey"), SortDirection.ASCENDING) +: cellKey)
  }

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
    new GraftCellBatchWrite(path, queryId, truncate, maxRowsPerFile, buckets,
                            codecs)

  /** Streaming write — the replication PRODUCER: each micro-batch epoch
    * publishes one `batch_<queryId>_ep<epoch>` dir through the same
    * publish step as the batch path, so a downstream
    * [[GraftCellMicroBatchStream]] consumer sees one complete replica
    * batch per upstream epoch. Epoch re-delivery after a crash (the
    * engine replays the last epoch from the checkpoint) hits the
    * idempotence guard: a dest dir that already exists means the
    * earlier attempt committed, so the replay is dropped — exactly-once
    * at the store level. The declared HFile distribution/ordering above
    * applies per epoch (Catalyst plans the range shuffle inside each
    * micro-batch). */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new GraftCellStreamingWrite(path, queryId, maxRowsPerFile, buckets,
                                codecs)
}

class GraftCellStreamingWrite(path: String, queryId: String,
                              maxRowsPerFile: Long = -1L,
                              buckets: Option[Int] = None,
                              codecs: CellCodecs = CellCodecs.DEFAULT)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private def tmpDir(epochId: Long) =
    new java.io.File(path, s"_tmp_${queryId}_ep$epochId")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    new java.io.File(path).mkdirs()
    new CellDataWriterFactory(new java.io.File(path, s"_tmp_$queryId").getPath,
                              maxRowsPerFile, buckets, codecs)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dest = s"batch_${queryId}_ep$epochId"
    // a dest dir that already exists is a replayed epoch the earlier
    // attempt committed: drop it
    if (!new java.io.File(path, dest).exists())
      GraftCellMaintenance.publishReplacement(path, dest,
                                              CellFilesCommitted.all(messages))
    FileUtils.deleteQuietly(tmpDir(epochId))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    FileUtils.deleteQuietly(tmpDir(epochId))
}

/** Task-commit message: the full manifest entry per written file (the
  * task tracked every stat while writing), so the driver's commit can
  * persist `_manifest.json` without opening a single footer. */
final case class CellFilesCommitted(files: Seq[CellFileMeta])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

object CellFilesCommitted {
  /** Every file the tasks of one write committed. */
  def all(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Seq[CellFileMeta] =
    messages.toSeq.collect { case CellFilesCommitted(fs) => fs }.flatten
}

class GraftCellBatchWrite(path: String, queryId: String, truncate: Boolean,
                          maxRowsPerFile: Long = -1L,
                          buckets: Option[Int] = None,
                          codecs: CellCodecs = CellCodecs.DEFAULT)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  protected def tmpDir = new java.io.File(path, s"_tmp_$queryId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    tmpDir.mkdirs()
    new CellDataWriterFactory(tmpDir.getPath, maxRowsPerFile, buckets,
                              codecs)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // the TRUNCATE overwrite (every mode("overwrite") write) replaces
    // every live dir in the same publish: readers switch at
    // the rename, snapshot-pinned files move to the archive, and every
    // retirement lands in the travel log superseded by this commit
    val live = if (truncate) CellFooterCache.committedDirs(path) else Nil
    GraftCellMaintenance.publishReplacement(path, s"batch_$queryId",
      CellFilesCommitted.all(messages), replacedDirs = live)
    FileUtils.deleteQuietly(tmpDir)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    FileUtils.deleteQuietly(tmpDir)
}

/** Compression configuration of a write (r18 — the HBase COMPRESSION
  * column-family descriptor): a table-level default plus per-family
  * overrides, persisted as TBLPROPERTIES (`compression`,
  * `family.<f>.compression`) and honored by every write path —
  * inserts, DML rewrites, and the maintenance rewrites the procedures
  * pass them to, so the declared codecs TRAVEL THROUGH COMPACTION like
  * the r17 family policies. */
final case class CellCodecs(
    default: org.apache.parquet.hadoop.metadata.CompressionCodecName,
    perFamily: Map[String,
      org.apache.parquet.hadoop.metadata.CompressionCodecName])

object CellCodecs {
  import org.apache.parquet.hadoop.metadata.CompressionCodecName

  /** Codecs every Spark runtime decodes without native extras. */
  val SUPPORTED: Seq[String] = Seq("UNCOMPRESSED", "SNAPPY", "GZIP", "ZSTD")
  val DEFAULT: CellCodecs = CellCodecs(CompressionCodecName.SNAPPY, Map.empty)

  def codec(name: String, key: String): CompressionCodecName = {
    val up = name.toUpperCase(java.util.Locale.ROOT)
    require(SUPPORTED.contains(up),
      s"graftcell: $key must be one of ${SUPPORTED.mkString(", ")}, " +
      s"got '$name'")
    CompressionCodecName.valueOf(up)
  }

  private val FamRe = raw"family\.([A-Za-z0-9_-]+)\.compression".r

  /** Is `key` a compression property (`compression`,
    * `family.<f>.compression`)? */
  def isProp(key: String): Boolean =
    key == "compression" || FamRe.matches(key)

  /** Resolve from table properties (the catalog descriptor). */
  def of(props: Map[String, String]): CellCodecs = {
    val default = props.get("compression")
      .map(codec(_, "compression"))
      .getOrElse(CompressionCodecName.SNAPPY)
    val fams = props.collect {
      case (FamRe(f), v) => f -> codec(v, s"family.$f.compression")
    }
    if (fams.isEmpty && default == CompressionCodecName.SNAPPY) DEFAULT
    else CellCodecs(default, fams)
  }
}

/** `-z<CODEC>` region-file name tag (r18): emitted for every non-SNAPPY
  * file (SNAPPY — the default — stays untagged, so pre-r18 names are
  * unchanged). Like the bucket tag, the codec lives in the NAME so it
  * travels verbatim through manifests, snapshots, clone, export and
  * bulkload — and split/merge/DELETE rewrites re-encode their outputs
  * with the input's codec instead of silently resetting to the
  * default. */
object GraftCellCodecTag {
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  private val Re = raw"-z([A-Z0-9_]+)(?:-r\d+)?(?:-b\d+of\d+)?\.parquet$$".r

  def tag(c: CompressionCodecName): String =
    if (c == CompressionCodecName.SNAPPY) "" else s"-z${c.name()}"

  /** Codec of a region file, from its name tag; untagged = SNAPPY. */
  def of(path: String): CompressionCodecName =
    Re.findFirstMatchIn(path)
      .flatMap(m => scala.util.Try(
        CompressionCodecName.valueOf(m.group(1))).toOption)
      .getOrElse(CompressionCodecName.SNAPPY)
}

/** Task-side writer factory of every connector write. A streaming
  * write gets one tmp dir per epoch, `<tmpDir>_ep<epoch>`. */
class CellDataWriterFactory(tmpDir: String, maxRowsPerFile: Long = -1L,
                            buckets: Option[Int] = None,
                            codecs: CellCodecs = CellCodecs.DEFAULT)
    extends org.apache.spark.sql.connector.write.DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new CellDataWriter(tmpDir, partitionId, maxRowsPerFile, buckets, codecs)

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
    val tmp = s"${tmpDir}_ep$epochId"
    new java.io.File(tmp).mkdirs()
    new CellDataWriter(tmp, partitionId, maxRowsPerFile, buckets, codecs)
  }
}

/** Direct InternalRow → parquet WriteSupport for the cell schema — the
  * WRITE-side twin of the vectorized read path: per field one isNullAt
  * + addBinary/addLong on the RecordConsumer, no intermediate objects
  * beyond the byte copy parquet's page builders require. Fields are
  * positional in [[GraftCell.SCHEMA]] order, exactly how Spark hands
  * rows to the sink. */
class CellWriteSupport
    extends org.apache.parquet.hadoop.api.WriteSupport[InternalRow] {
  import CellWriteSupport._
  private var consumer: org.apache.parquet.io.api.RecordConsumer = _
  private val names = GraftCell.SCHEMA.fieldNames

  override def init(conf: Configuration)
      : org.apache.parquet.hadoop.api.WriteSupport.WriteContext =
    new org.apache.parquet.hadoop.api.WriteSupport.WriteContext(
      MESSAGE_TYPE, java.util.Collections.emptyMap[String, String]())

  override def prepareForWrite(
      rc: org.apache.parquet.io.api.RecordConsumer): Unit = consumer = rc

  override def write(row: InternalRow): Unit = {
    consumer.startMessage()
    var i = 0
    while (i < names.length) {
      if (!row.isNullAt(i)) {
        consumer.startField(names(i), i)
        if (i == V_IDX) consumer.addLong(row.getLong(i))
        else consumer.addBinary(
          Binary.fromConstantByteArray(row.getUTF8String(i).getBytes))
        consumer.endField(names(i), i)
      }
      i += 1
    }
    consumer.endMessage()
  }
}

object CellWriteSupport {
  // positional layout of the canonical cell schema — the vectorized
  // batches, the write support, the file writer and the row stream all
  // agree on it
  private[cell] val K_IDX = 0 // rowkey
  private[cell] val F_IDX = 1 // family
  private[cell] val Q_IDX = 2 // qualifier
  private[cell] val V_IDX = 3 // version
  private[cell] val VAL_IDX = 4 // value

  /** The parquet message type every region file is written with. */
  val MESSAGE_TYPE: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val b = Types.buildMessage()
    GraftCell.SCHEMA.fields.foreach { f =>
      if (f.name == "version") b.optional(INT64).named(f.name)
      else b.optional(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(f.name)
    }
    b.named("cell")
  }
}

/** ParquetWriter.Builder over [[CellWriteSupport]] — keeps the stock
  * builder surface (codec, bloom filters, page sizes). */
class CellParquetWriterBuilder(path: Path)
    extends org.apache.parquet.hadoop.ParquetWriter.Builder[
      InternalRow, CellParquetWriterBuilder](path) {
  override def self(): CellParquetWriterBuilder = this
  override def getWriteSupport(conf: Configuration)
      : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
    new CellWriteSupport
}

/** ONE region file being written — the HBase `StoreFileWriter` analog
  * and the only place that holds the parquet builder settings and the
  * per-file manifest stats. Every write goes through it, by way of
  * [[CellDataWriter]] (connector writes and every
  * [[GraftCellMaintenance.rewrite]]). The stats are exact,
  * tracked while writing (not footer-derived): min/max of rowkey,
  * family, qualifier and value in unsigned byte order — the order of
  * parquet UTF8 statistics and of UTF8String comparison — the version
  * TimeRange, the NULL rowkey and family counts, and the value bloom.
  * A rowkey BLOOM FILTER is written into the file so point gets (`eq`/
  * `in` pushed to parquet) can skip row groups whose [min,max]
  * straddles the key but which provably don't contain it. */
private[cell] final class CellFileWriter(path: String,
    codec: org.apache.parquet.hadoop.metadata.CompressionCodecName) {
  import CellWriteSupport._
  private val writer = new CellParquetWriterBuilder(new Path(path))
    .withConf(new Configuration())
    .withCompressionCodec(codec)
    .withBloomFilterEnabled("rowkey", true)
    // value bloom for row-group point skipping — NDV-capped (~5 KB)
    // unlike the rowkey bloom's default sizing, so every small file
    // doesn't grow by a megabyte of bitset; above 4096 distinct values
    // the FPP degrades gracefully (still sound)
    .withBloomFilterEnabled("value", true)
    .withBloomFilterNDV("value", 4096)
    .build()
  private var rows = 0L
  // binary column extremes by schema position (the version slots stay
  // null; the version TimeRange is tracked as longs)
  private val mins = new Array[Array[Byte]](GraftCell.SCHEMA.length)
  private val maxs = new Array[Array[Byte]](GraftCell.SCHEMA.length)
  private var minVer = Long.MaxValue
  private var maxVer = Long.MinValue
  private var nullKeys = 0L
  private var nullFams = 0L
  private val valueBloom = CellValueBloom.empty()

  def rowCount: Long = rows

  def write(row: InternalRow): Unit = {
    writer.write(row)
    rows += 1
    if (row.isNullAt(K_IDX)) nullKeys += 1 else track(row, K_IDX)
    if (row.isNullAt(F_IDX)) nullFams += 1 else track(row, F_IDX)
    if (!row.isNullAt(Q_IDX)) track(row, Q_IDX)
    if (!row.isNullAt(VAL_IDX))
      CellValueBloom.add(valueBloom, track(row, VAL_IDX))
    if (!row.isNullAt(V_IDX)) {
      val v = row.getLong(V_IDX)
      if (v < minVer) minVer = v
      if (v > maxVer) maxVer = v
    }
  }

  // An extreme candidate is COPIED, and only when it replaces the
  // extreme: a row from a columnar batch can share memory that the next
  // batch reuses, and an aliased extreme would silently mutate (updates
  // are rare after warmup, so the copy is off the hot path).
  private def track(row: InternalRow, i: Int): Array[Byte] = {
    val b = row.getUTF8String(i).getBytes
    if (mins(i) == null || JArrays.compareUnsigned(b, mins(i)) < 0)
      mins(i) = b.clone()
    if (maxs(i) == null || JArrays.compareUnsigned(b, maxs(i)) > 0)
      maxs(i) = b.clone()
    b
  }

  /** Close; None (file deleted) when no row was written. */
  def finish(): Option[CellFileMeta] = {
    writer.close()
    val f = new java.io.File(path)
    if (rows == 0L) { f.delete(); None }
    else Some(CellFileMeta(path, f.length(), rows,
      Option(mins(K_IDX)), Option(maxs(K_IDX)), MESSAGE_TYPE.toString,
      if (minVer == Long.MaxValue) None else Some(minVer),
      if (maxVer == Long.MinValue) None else Some(maxVer),
      Option(mins(F_IDX)), Option(maxs(F_IDX)),
      Option(mins(Q_IDX)), Option(maxs(Q_IDX)),
      Some(nullKeys),
      Option(mins(VAL_IDX)).map(GraftCell.truncStatMin),
      Option(maxs(VAL_IDX)).flatMap(GraftCell.truncStatMax),
      nullFams = Some(nullFams),
      valueBloom = CellValueBloom.finish(valueBloom)))
  }

  /** Close and delete the file. */
  def abort(): Unit =
    try writer.close() finally { new java.io.File(path).delete(); () }
}

/** Sorted region file(s) per (range-partitioned) task. Rows arrive
  * rowkey-sorted (the declared write ordering), so ROLLING to a new
  * file every `maxRowsPerFile` rows — the HBase region SPLIT-ON-SIZE —
  * keeps every emitted file sorted and the task's files pairwise
  * non-overlapping by construction: footer pruning granularity is then
  * a policy knob (`option("maxRowsPerFile", n)`), not a side effect of
  * the shuffle partition count. Each file goes through one
  * [[CellFileWriter]]; each range of a rewrite ([[CellRegionRewrite]])
  * writes through one of these. */
class CellDataWriter(tmpDir: String, partitionId: Int,
                     maxRowsPerFile: Long = -1L,
                     buckets: Option[Int] = None,
                     codecs: CellCodecs = CellCodecs.DEFAULT)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  import org.apache.parquet.hadoop.metadata.CompressionCodecName

  private val files = scala.collection.mutable.ArrayBuffer.empty[CellFileMeta]
  // file sequence shared across sinks: names stay unique per task
  private var seq = 0

  /** The open region file of one codec. The default write uses ONE
    * sink; per-family compression (r18 — the HBase per-CF COMPRESSION
    * descriptor) keys sinks by RESOLVED CODEC, so each emitted file is
    * codec-pure and carries a `-z<CODEC>` name tag (omitted for the
    * default SNAPPY — names are byte-identical to pre-r18 when no codec
    * property is set) that travels through manifests/snapshots/clone
    * and lets split/merge/DELETE rewrites re-encode with the same
    * codec. Rows arrive cell-key-sorted; each sink sees a subsequence,
    * so every emitted file keeps the declared sort order, and bucket
    * purity holds per sink (roll on bucket change). */
  private final class Sink(codec: CompressionCodecName) {
    private val codecTag = GraftCellCodecTag.tag(codec)
    private var out: CellFileWriter = _
    private var curBucket = -1

    def roll(): Unit = if (out != null) { files ++= out.finish(); out = null }

    def write(row: InternalRow): Unit = {
      buckets.foreach { n =>
        val b = GraftBucket.of(
          if (row.isNullAt(0)) null else row.getUTF8String(0).getBytes, n)
        if (out != null && b != curBucket) roll()
        curBucket = b
      }
      // lazy open on first row: an empty sink commits no region file
      if (out == null) {
        val tag = buckets.fold("")(n => GraftBucket.tag(curBucket, n))
        out = new CellFileWriter(
          f"$tmpDir/part-$partitionId%05d-$seq%04d$codecTag$tag.parquet", codec)
        seq += 1
      }
      out.write(row)
      if (maxRowsPerFile > 0 && out.rowCount >= maxRowsPerFile) roll()
    }

    def abort(): Unit = if (out != null) { out.abort(); out = null }
  }

  // default path: ONE sink (file names and behavior byte-identical to
  // pre-r18); per-family codecs route rows to codec-keyed sinks
  private val defaultSink = new Sink(codecs.default)
  private val codecSinks =
    scala.collection.mutable.LinkedHashMap.empty[CompressionCodecName, Sink]
  private def sinkFor(row: InternalRow): Sink =
    if (codecs.perFamily.isEmpty) defaultSink
    else {
      val fam = if (row.isNullAt(1)) null else row.getUTF8String(1).toString
      val codec = if (fam == null) codecs.default
                  else codecs.perFamily.getOrElse(fam, codecs.default)
      if (codec == codecs.default) defaultSink
      else codecSinks.getOrElseUpdate(codec, new Sink(codec))
    }

  override def write(row: InternalRow): Unit = sinkFor(row).write(row)

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    defaultSink.roll()
    codecSinks.values.foreach(_.roll())
    CellFilesCommitted(files.toSeq)
  }

  override def abort(): Unit = {
    defaultSink.abort()
    codecSinks.values.foreach(_.abort())
    files.foreach(m => new java.io.File(m.path).delete())
  }

  override def close(): Unit = ()
}
