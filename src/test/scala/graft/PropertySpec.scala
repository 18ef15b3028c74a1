package graft

import graft.operators.CellFlatten
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._
  val sf = SparkFixture.sf001

  /** Manual property driver (the scalatest-scalacheck bridge is not in
    * the offline cache): fixed seeds keep failures reproducible. */
  private def forAllSeeded[A](gen: Gen[A], samples: Int = 5)(body: A => Unit): Unit =
    (1 to samples).foreach { i =>
      gen(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  private val rowGen = for {
    id   <- Gen.choose(0L, 1000000L)
    s    <- Gen.alphaNumStr.map(_.take(12))
    d    <- Gen.option(Gen.choose(-1e6, 1e6))
    arr  <- Gen.listOfN(3, Gen.choose(-100, 100))
  } yield (id, s, d, arr)

  test("flatten round-trip: every non-null leaf appears once and re-parses " +
       "(SURVEY §5.3 — the core json2hbase semantic)") {
    forAllSeeded(Gen.listOfN(40, rowGen)) { rowsRaw =>
      // unique rowkeys (HBase semantics: rowkey identifies the row)
      val rows = rowsRaw.zipWithIndex
        .map { case ((_, s, d, a), i) => (i.toLong, s, d, a) }
      locally {
        val df = rows.toDF("id", "s", "d", "arr")
        val cells = CellFlatten
          .flatten(df, col("id"), "f", lit(0L), exclude = Set("id"))
          .select("rowkey", "qualifier", "value")
          .as[(String, String, String)].collect()
          .groupBy(_._1).view.mapValues(_.map(c => c._2 -> c._3).toMap).toMap
        rows.foreach { case (id, s, d, arr) =>
          val got = cells.getOrElse(id.toString, Map.empty)
          val wantLeaves =
            (if (s != null) Seq("s" -> s) else Nil) ++
            d.map(v => "d" -> v).toSeq.map { case (q, _) => q -> "" } ++
            arr.zipWithIndex.map { case (v, i) => s"arr[$i]" -> v.toString }
          // every non-null scalar leaf present exactly once, values re-parse
          assert(got.get("s").contains(s))
          d match {
            case Some(v) =>
              assert(math.abs(BigDecimal(got("d")).toDouble - v) < 1e-6)
            case None => assert(!got.contains("d"))
          }
          arr.zipWithIndex.foreach { case (v, i) =>
            assert(got(s"arr[$i]") == v.toString)
          }
          assert(got.size == wantLeaves.size)
        }
      }
    }
  }

  test("join_asof window formulation equals an independent correlated-" +
       "subquery formulation (SURVEY §5.3)") {
    val viaWindow = SparkEntry.queries("join_asof")(spark, sf).collect().toSeq
    Tables.events(spark, sf).createOrReplaceTempView("ev_asof")
    val viaSubquery = spark.sql(
      """SELECT p.event_id, p.user_id, p.ts_us,
               (SELECT max(s.ts_us) FROM ev_asof s
                WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                  AND s.ts_us <= p.ts_us) AS last_signup_ts
         FROM ev_asof p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id""").collect().toSeq
    assert(viaWindow == viaSubquery)
  }

  test("skewSafeSelfPairs equals brute force for random blocks, caps and salts") {
    // Property form of DedupSpec's hot-block test: random block-key
    // layouts (including blocks straddling the cap in both directions)
    // must always yield exactly the brute-force a<b pair set, for any
    // cap and salt fan-out.
    val cfgGen = for {
      n    <- Gen.choose(20, 80)
      keys <- Gen.listOfN(n, Gen.choose(0, 3)) // few block keys → big blocks
      cap  <- Gen.choose(0, 30)
      k    <- Gen.choose(2, 6)
    } yield (keys, cap, k)
    forAllSeeded(cfgGen) { case (keys, cap, k) =>
      val rows = keys.zipWithIndex.map { case (key, i) =>
        (s"l$key", 10 + key, i.toLong, Seq(s"f$i"))
      }
      val d = rows.toDF("lang", "n_chars", "doc_id", "feat")
      val expect = (for {
        (la, na, a, _) <- rows; (lb, nb, b, _) <- rows
        if la == lb && na == nb && a < b
      } yield (a, b)).toSet
      val got = operators.DedupOps.skewSafeSelfPairs(d, cap, k)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.toSet.size, s"dup pairs at cap=$cap k=$k")
      assert(got.toSet == expect, s"cap=$cap k=$k: " +
             s"missing=${expect -- got.toSet} extra=${got.toSet -- expect}")
    }
  }

  test("decimal aggregation is partition-count-invariant on documents too") {
    val d = Tables.load(spark, sf, "documents")
    def s(parts: Int) = d.repartition(parts)
      .agg(sum(Tables.dec(col("n_chars")))).collect()(0).getDecimal(0)
    assert(s(2) == s(9))
  }

  test("FilePruner ≡ fileMayMatch on random filters and file stats (r15 scale path)") {
    // The round-15 binary-search pruner (sorted IN-lists, O(log k) per
    // file) must be SEMANTICS-IDENTICAL to the reference per-key path
    // it replaced — same survivors on every (filter set, footer stats)
    // pair, including missing stats, empty envelopes, inclusive
    // boundaries, nested Ands, and rowkey blooms built from each
    // file's keys. Also pins the compiled row evaluator to the
    // reference eval on random rows.
    import graft.sources.cell.{CellFileMeta, CellValueBloom, GraftCell}
    import org.apache.spark.sql.sources._
    import org.apache.spark.unsafe.types.UTF8String
    val keyGen = Gen.listOfN(3, Gen.oneOf("0", "1", "5", "7", "9", "a", "z"))
      .map(_.mkString)
    val leafGen: Gen[Filter] = Gen.oneOf(
      keyGen.map(k => EqualTo("rowkey", k)),
      keyGen.map(k => GreaterThanOrEqual("rowkey", k)),
      keyGen.map(k => LessThan("rowkey", k)),
      keyGen.map(k => StringStartsWith("rowkey", k.take(1))),
      Gen.chooseNum(1, 60).flatMap(n =>
        Gen.listOfN(n, keyGen).map(ks =>
          In("rowkey", ks.distinct.toArray[Any]))),
      Gen.chooseNum(0L, 100L).map(v => GreaterThan("version", v)),
      for { a <- keyGen; b <- keyGen }
        yield And(GreaterThanOrEqual("rowkey", a), LessThan("rowkey", b)),
      // r16: family/qualifier predicates (the per-CF stats pruning)
      keyGen.map(k => EqualTo("family", k.take(1))),
      keyGen.map(k => EqualTo("qualifier", k)),
      keyGen.map(k => StringStartsWith("qualifier", k.take(1))),
      Gen.chooseNum(1, 5).flatMap(n =>
        Gen.listOfN(n, keyGen).map(ks =>
          In("qualifier", ks.distinct.toArray[Any]))),
      // r18: VALUE predicates (the SingleColumnValueFilter analog's
      // file pruning rides the same interval algebra)
      keyGen.map(k => EqualTo("value", k)),
      keyGen.map(k => GreaterThanOrEqual("value", k)),
      keyGen.map(k => LessThan("value", k)),
      keyGen.map(k => StringStartsWith("value", k.take(1))))
    // r16: OR disjunctions (the MultiRowRangeFilter pushdown) — both
    // flat Or(leaf, leaf) and the nested Or(Or(..), ..) / Or(And(..),
    // ..) shapes Catalyst actually emits for 3+ ranges
    val filterGen: Gen[Filter] = Gen.frequency(
      3 -> leafGen,
      1 -> (for { a <- leafGen; b <- leafGen } yield Or(a, b)),
      1 -> (for { a <- leafGen; b <- leafGen; c <- leafGen }
              yield Or(Or(a, b), c)))
    val metaGen: Gen[CellFileMeta] = for {
      lo <- keyGen; hi <- keyGen
      // one-sided stats included (ADVICE r15: min-only/max-only files
      // must prune identically in FilePruner and fileMayMatch)
      keySides <- Gen.frequency(6 -> "both", 2 -> "none",
                                1 -> "minOnly", 1 -> "maxOnly")
      vlo <- Gen.chooseNum(0L, 100L); vhi <- Gen.chooseNum(0L, 100L)
      haveVer <- Gen.frequency(4 -> true, 1 -> false)
      // the file's rowkeys: its bounds plus the in-range draws; a
      // rowkey bloom, when present, is built from exactly these
      draws <- Gen.listOfN(8, keyGen)
      haveBloom <- Gen.frequency(3 -> true, 1 -> false)
    } yield {
      val (mn, mx) = if (lo <= hi) (lo, hi) else (hi, lo)
      val held = Seq(mn, mx) ++ draws.filter(k => k >= mn && k <= mx)
      val bloom = CellValueBloom.sized(held.distinct.size)
      held.foreach(k => CellValueBloom.add(bloom, k.getBytes("UTF-8")))
      val minKey = if (keySides == "both" || keySides == "minOnly")
        Some(mn.getBytes("UTF-8")) else None
      val maxKey = if (keySides == "both" || keySides == "maxOnly")
        Some(mx.getBytes("UTF-8")) else None
      // family/qualifier stats (r16) derive from the same key pool so
      // the generated predicates actually hit/miss them; value stats
      // (r18) too — including the truncated form long values persist
      val (qmn, qmx) = if (lo <= hi) (lo, hi) else (hi, lo)
      CellFileMeta("f", 1L, 1L, minKey, maxKey, "t",
        if (haveVer) Some(math.min(vlo, vhi)) else None,
        if (haveVer) Some(math.max(vlo, vhi)) else None,
        if (keySides == "both") Some(mn.take(1).getBytes("UTF-8")) else None,
        if (keySides == "both") Some(mx.take(1).getBytes("UTF-8")) else None,
        if (keySides != "none") Some(qmn.getBytes("UTF-8")) else None,
        if (keySides != "none") Some(qmx.getBytes("UTF-8")) else None,
        None,
        if (keySides != "none")
          Some(graft.sources.cell.GraftCell.truncStatMin(
            qmn.getBytes("UTF-8"))) else None,
        if (keySides != "none")
          graft.sources.cell.GraftCell.truncStatMax(qmx.getBytes("UTF-8"))
        else None,
        rowkeyBloom = if (haveBloom) Some(bloom) else None)
    }
    val caseGen = for {
      nf <- Gen.chooseNum(0, 4)
      fs <- Gen.listOfN(nf, filterGen)
      ms <- Gen.listOfN(30, metaGen)
    } yield (fs, ms)
    forAllSeeded(caseGen, samples = 40) { case (fs, ms) =>
      val pruner = new GraftCell.FilePruner(fs)
      ms.foreach { m =>
        assert(pruner.mayMatch(m) == GraftCell.fileMayMatch(m, fs),
          s"pruner diverges on $m with $fs")
      }
    }
    // compiled row eval ≡ reference eval
    val rowGen2 = for {
      k <- keyGen; q <- keyGen; v <- Gen.chooseNum(0L, 100L)
    } yield (k, q, v)
    val evalCase = for {
      f <- filterGen; rows <- Gen.listOfN(25, rowGen2)
    } yield (f, rows)
    forAllSeeded(evalCase, samples = 40) { case (f, rows) =>
      val compiled = GraftCell.compile(f)
      rows.foreach { case (k, q, v) =>
        val get = (c: String) => (c: @unchecked) match {
          case "rowkey"    => UTF8String.fromString(k)
          case "family"    => UTF8String.fromString(k.take(1))
          case "qualifier" => UTF8String.fromString(q)
          case "value"     => UTF8String.fromString(q)
          case "version"   => java.lang.Long.valueOf(v)
        }
        assert(compiled(get) == GraftCell.eval(f, get),
          s"compile diverges on ($k,$q,$v) with $f")
      }
    }
  }

  test("value-stat truncation is SOUND: a file holding a matching value " +
       "is never pruned by its truncated bounds (r18)") {
    // Long values persist 64-byte truncated stats (min prefix-
    // truncated low, max prefix-stopped high). Soundness = for every
    // (value set, predicate): if ANY value satisfies the predicate,
    // the file's truncated [minVal, maxVal] must keep it. Lengths
    // straddle the 64-byte cap and include 0xFF-heavy tails (the
    // prefixStop saturation edge). The same strings are the file's
    // rowkeys, with exact bounds and a rowkey bloom built from them,
    // probed by `rowkey =` and `rowkey IN`.
    import graft.sources.cell.{CellFileMeta, CellValueBloom, GraftCell}
    import org.apache.spark.sql.sources._
    import org.apache.spark.unsafe.types.UTF8String
    val valGen = for {
      n <- Gen.chooseNum(1, 100)
      cs <- Gen.listOfN(n, Gen.oneOf('0', 'a', 'z', 'ÿ'))
    } yield cs.mkString
    val caseGen = for {
      vs <- Gen.listOfN(8, valGen)
      probe <- Gen.oneOf(valGen, Gen.oneOf(vs).flatMap(v =>
        Gen.oneOf(v, v.take(math.max(1, v.length / 2)))))
      other <- valGen
      pred <- Gen.oneOf[Filter](
        EqualTo("value", probe), GreaterThanOrEqual("value", probe),
        LessThan("value", probe), StringStartsWith("value", probe.take(2)),
        EqualTo("rowkey", probe), In("rowkey", Array[Any](other, probe)))
    } yield (vs, pred)
    forAllSeeded(caseGen, samples = 120) { case (vs, pred) =>
      val ord: Ordering[Array[Byte]] = Ordering.comparatorToOrdering(
        java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte]))
      val bytes = vs.map(_.getBytes("UTF-8"))
      val bloom = CellValueBloom.sized(bytes.size)
      bytes.foreach(CellValueBloom.add(bloom, _))
      val meta = CellFileMeta("f", 1L, vs.size.toLong,
        Some(bytes.min(ord)), Some(bytes.max(ord)), "t",
        minVal = Some(GraftCell.truncStatMin(bytes.min(ord))),
        maxVal = GraftCell.truncStatMax(bytes.max(ord)),
        rowkeyBloom = Some(bloom))
      val anyMatch = vs.exists(v =>
        GraftCell.eval(pred, _ => UTF8String.fromString(v)))
      val kept = GraftCell.fileMayMatch(meta, Seq(pred))
      assert(!anyMatch || kept,
        s"unsound prune: $pred matches a value in ${vs.map(_.take(8))}")
      assert(new GraftCell.FilePruner(Seq(pred)).mayMatch(meta) == kept)
    }
  }

  test("alignedFiles is invariant under conjunct flattening (ADVICE r16: " +
       "a nested And rowkey filter must tighten the fold, not widen it)") {
    // rowkeyRangeOnly accepts And(l, r), so the range fold must see the
    // FLATTENED conjuncts: before the r17 fix, And(>=lo, <hi) folded as
    // FULL_RANGE and every stats-complete file counted as fully
    // included — the filtered metadata COUNT would have returned the
    // unfiltered answer.
    import graft.sources.cell.{CellFileMeta, GraftCell}
    import org.apache.spark.sql.sources._
    def meta(lo: String, hi: String) =
      CellFileMeta("f", 1L, 10L, Some(lo.getBytes("UTF-8")),
        Some(hi.getBytes("UTF-8")), "t", Some(0L), Some(1L),
        None, None, None, None, Some(0L))
    // concrete regression: files entirely outside [b, d) must not count
    val metas = Seq(meta("a", "a"), meta("b", "c"), meta("e", "z"))
    val nested = Seq(And(GreaterThanOrEqual("rowkey", "b"),
                         LessThan("rowkey", "d")))
    val flat = Seq(GreaterThanOrEqual("rowkey", "b"),
                   LessThan("rowkey", "d"): Filter)
    assert(GraftCell.alignedFiles(nested, metas) ==
           GraftCell.alignedFiles(flat, metas))
    assert(GraftCell.alignedFiles(nested, metas).exists(_.size == 1))
    // property: random range-only shapes, nested vs flat, random stats
    val keyGen = Gen.oneOf("0", "1", "5", "7", "9", "a", "z")
    val leafGen: Gen[Filter] = Gen.oneOf(
      keyGen.map(k => EqualTo("rowkey", k): Filter),
      keyGen.map(k => GreaterThanOrEqual("rowkey", k): Filter),
      keyGen.map(k => LessThan("rowkey", k): Filter),
      keyGen.map(k => StringStartsWith("rowkey", k): Filter),
      Gen.const(IsNotNull("rowkey"): Filter))
    val metaGen = for { a <- keyGen; b <- keyGen } yield
      if (a <= b) meta(a, b) else meta(b, a)
    val caseGen = for {
      a <- leafGen; b <- leafGen; c <- leafGen
      ms <- Gen.listOfN(20, metaGen)
    } yield (a, b, c, ms)
    forAllSeeded(caseGen, samples = 60) { case (a, b, c, ms) =>
      assert(GraftCell.alignedFiles(Seq(And(a, And(b, c))), ms) ==
             GraftCell.alignedFiles(Seq(a, b, c), ms),
        s"nested/flat divergence on And($a, And($b, $c))")
    }
  }

  test("midKey: strictly above min, at-or-below max except the " +
       "trailing-NUL degeneracy (r16 normalizer split points)") {
    import graft.sources.cell.GraftCellMaintenance.midKey
    import java.util.{Arrays => JA}
    val byteGen = Gen.chooseNum(0, 255).map(_.toByte)
    val keyGen = Gen.chooseNum(0, 6)
      .flatMap(n => Gen.listOfN(n, byteGen)).map(_.toArray)
    // two byte arrays are the SAME binary fraction iff they differ only
    // by trailing 0x00s — the one case where no key can sit strictly
    // between them (the normalizer's straddle filter then finds no
    // victim, by design)
    def stripZeros(a: Array[Byte]): Array[Byte] = {
      var n = a.length
      while (n > 0 && a(n - 1) == 0) n -= 1
      a.take(n)
    }
    forAllSeeded(Gen.zip(keyGen, keyGen), samples = 400) { case (x, y) =>
      val c = JA.compareUnsigned(x, y)
      if (c != 0) {
        val (lo, hi) = if (c < 0) (x, y) else (y, x)
        val m = midKey(lo, hi)
        assert(JA.compareUnsigned(lo, m) < 0,
          s"mid not strictly above min: lo=${lo.toSeq} mid=${m.toSeq}")
        if (!JA.equals(stripZeros(lo), stripZeros(hi)))
          assert(JA.compareUnsigned(m, hi) <= 0,
            s"mid above max: hi=${hi.toSeq} mid=${m.toSeq}")
      }
    }
  }
}
