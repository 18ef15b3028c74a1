package graft

import graft.operators.CellFlatten
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CellFlattenSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("flatten: nested struct → dotted qualifiers, arrays → indexed") {
    val df = Seq(
      (1L, "a", Some(2.5), Seq(1.0f, 2.0f), (7, "x")),
      (2L, "b", None, Seq(3.0f), (8, "y")),
    ).toDF("id", "s", "d", "arr", "nested")
    val cells = CellFlatten.flatten(df, col("id"), "f", lit(100L),
                                    exclude = Set("id"))
    val got = cells.orderBy("rowkey", "qualifier")
      .select("rowkey", "qualifier", "value").as[(String, String, String)]
      .collect().toSeq
    assert(got.contains(("1", "s", "a")))
    assert(got.contains(("1", "d", "2.500000")))
    assert(got.contains(("1", "arr[0]", "1.000000")))
    assert(got.contains(("1", "arr[1]", "2.000000")))
    assert(got.contains(("1", "nested._1", "7")))
    assert(got.contains(("1", "nested._2", "x")))
    // null leaf dropped (HBase stores no nulls)
    assert(!got.exists { case (r, q, _) => r == "2" && q == "d" })
    assert(got.count(_._1 == "2") == 4)
    assert(cells.columns.toSeq ==
      Seq("rowkey", "family", "qualifier", "version", "value"))
  }

  test("flatten recurses arrays of structs / arrays / maps to indexed leaves") {
    val df = Seq(
      (1L,
       Seq((10, Seq("a", "b")), (20, Seq("c"))),
       Map("k1" -> Seq(1.5, 2.5)),
       Seq(Seq(1, 2), Seq(3))),
    ).toDF("id", "aos", "m", "aa")
    val got = CellFlatten.flatten(df, col("id"), "f", lit(0L),
                                  exclude = Set("id"))
      .select("qualifier", "value").as[(String, String)].collect().toMap
    assert(got == Map(
      "aos[0]._1" -> "10", "aos[0]._2[0]" -> "a", "aos[0]._2[1]" -> "b",
      "aos[1]._1" -> "20", "aos[1]._2[0]" -> "c",
      "m.k1[0]" -> "1.500000", "m.k1[1]" -> "2.500000",
      "aa[0][0]" -> "1", "aa[0][1]" -> "2", "aa[1][0]" -> "3"))
  }

  test("depth-4 mixed nesting and non-string map keys flatten to exact leaves") {
    // map<int, array<struct<t, xs:array<long>>>> — map under array under
    // struct under map: every composition direction the recursion claims
    val df = Seq(
      (1L, Map(7 -> Seq(("a", Seq(10L, 20L)), ("b", Seq(30L))))),
    ).toDF("id", "m")
    val got = CellFlatten.flatten(df, col("id"), "f", lit(0L),
                                  exclude = Set("id"))
      .select("qualifier", "value").as[(String, String)].collect().toMap
    assert(got == Map(
      "m.7[0]._1" -> "a", "m.7[0]._2[0]" -> "10", "m.7[0]._2[1]" -> "20",
      "m.7[1]._1" -> "b", "m.7[1]._2[0]" -> "30"))
  }

  test("a null collection yields zero cells without erasing sibling cells") {
    val df = Seq(
      (1L, Some(Seq(1, 2)), "x"),
      (2L, Option.empty[Seq[Int]], "y"),
    ).toDF("id", "arr", "s")
    val got = CellFlatten.flatten(df, col("id"), "f", lit(0L),
                                  exclude = Set("id"))
      .select("rowkey", "qualifier", "value").as[(String, String, String)]
      .collect().toSeq
    assert(got.filter(_._1 == "1").map(c => c._2 -> c._3).toMap ==
      Map("arr[0]" -> "1", "arr[1]" -> "2", "s" -> "x"))
    // the row with the null array still emits its scalar cell
    assert(got.filter(_._1 == "2").map(c => c._2 -> c._3) == Seq("s" -> "y"))
  }

  test("entry smoke: flagship query returns rows on sf0.001") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length > 0)
    assert(rows.forall(_.getLong(2) > 0)) // n_cells
  }

  test("flatten ∘ unflatten = id: cell_unflatten rebuilds the events rows") {
    val sf = SparkFixture.sf001
    val got = SparkEntry.queries("cell_unflatten")(spark, sf)
      .select(col("rowkey").cast("long").as("event_id"), col("event_type"),
              col("user_id"), col("value"), col("version").as("ts_us"))
      .orderBy("event_id").collect()
    val want = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("user_id"),
              col("value"), col("ts_us"))
      .orderBy("event_id").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
  }

  test("dynamic variant fixpoint == static flatten on random nested docs") {
    // The schema-less path must land on EXACTLY the cells the static
    // (schema-known) flatten produces — same qualifiers, same serialized
    // values — for any document shape: structs, variable-length arrays,
    // arrays-of-structs/arrays, maps, and a map→array→map→array→array
    // chain that only resolves at nesting level 6. Long/string leaves
    // only (JSON double rendering is engine-specific by design).
    val rnd = new scala.util.Random(42)
    def rl() = rnd.nextLong() % 1000000
    def rs() = "v" + rnd.nextInt(1000)
    val rows = (1L to 60L).map { id =>
      (id, rs(), if (rnd.nextBoolean()) Some(rl()) else None,
       Seq.fill(rnd.nextInt(4))(rl()),
       Seq.fill(rnd.nextInt(3))((rs(), Seq.fill(rnd.nextInt(3))(rl()))),
       Map("k1" -> rl(), "k2" -> rl()),
       Seq.fill(rnd.nextInt(3))(Seq.fill(rnd.nextInt(3))(rl())),
       Map("w" -> Seq.fill(rnd.nextInt(3))(
         Map("q" -> Seq.fill(rnd.nextInt(2))(Seq.fill(rnd.nextInt(3))(rl()))))))
    }
    val df = rows.toDF("id", "s", "n", "xs", "aos", "m", "aa", "deepm")
    val static0 = CellFlatten.flatten(df, col("id"), "v", lit(7L),
                                      exclude = Set("id"))
    val payload = struct(df.columns.filterNot(_ == "id").map(col).toSeq: _*)
    val docs = df.select(col("id").cast("string").as("rowkey"),
                         lit(7L).as("version"),
                         parse_json(to_json(payload)).as("v"))
    val dyn = CellFlatten.flattenVariant(docs, "v", tag = "spec-prop")
    val cols = Seq("rowkey", "family", "qualifier", "version", "value")
    val want = static0.select(cols.map(col): _*).collect().toSet
    val got = dyn.select(cols.map(col): _*).collect().toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"dynamic-static diff: extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
  }

  test("flattenVariant: lazy, edge shapes, depth bound") {
    def docs(js: (String, String)*) =
      js.toDF("rowkey", "j").select(col("rowkey"), lit(3L).as("version"),
                                    parse_json(col("j")).as("v"))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("rowkey", "qualifier", "value").as[(String, String, String)]
        .collect().toSet
    val edge = docs(
      "obj" -> """{"a":null,"b":[],"c":{},"d":[null,1,{"x":true}],"":{"y":2.5},"s":"t"}""",
      "arr" -> """[1,{"x":2},[3]]""",
      "empty" -> "{}", "scalar" -> "7", "sqlnull" -> null)
    // building the flatten is a transformation: no job until an action
    val (flat, stats) = RunCollector(spark).measure {
      CellFlatten.flattenVariant(edge, "d", "t")
    }
    assert(stats.jobs == 0, stats)
    assert(flat.columns.toSeq ==
      Seq("rowkey", "family", "qualifier", "version", "value"))
    assert(flat.select("family", "version").distinct().as[(String, Long)]
             .collect().toSeq == Seq(("d", 3L)))
    assert(cells(flat) == Set(
      ("obj", "d[1]", "1"), ("obj", "d[2].x", "true"), ("obj", "s", "t"),
      ("obj", "y", "2.5"),
      ("arr", "[0]", "1"), ("arr", "[1].x", "2"), ("arr", "[2][0]", "3")))
    // the root is level 0: 64 nested objects put the leaf at level 64,
    // 65 put an object there
    def nested(n: Int) = docs("deep" -> ("""{"a":""" * n + "1" + "}" * n))
    assert(cells(CellFlatten.flattenVariant(nested(64), "d", "t")) ==
      Set(("deep", Seq.fill(64)("a").mkString("."), "1")))
    val e = intercept[Exception] {
      CellFlatten.flattenVariant(nested(65), "d", "t").collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("nesting exceeds 64 levels")), msgs)
  }

  test("sink_cells_variant_deep reaches level 6 with no JSON-text fallback") {
    val cells = SparkEntry.queries("sink_cells_variant_deep")(
      spark, SparkFixture.sf001).cache()
    val qs = cells.select("qualifier").distinct().as[String].collect().toSet
    assert(qs.exists(_.matches("""a\.b\.c\[\d+\]\.d\[\d+\]""")), qs.toString)
    // every value is a serialized SCALAR — the old ladder's depth cap
    // emitted JSON text ('{...}'/'[...]') for anything past level 3
    val jsonish = cells.filter(col("value").startsWith("{") ||
                               col("value").startsWith("[")).count()
    assert(jsonish == 0)
    cells.unpersist()
  }

  test("flatten is shuffle-free (scale: pure per-row projection)") {
    val df = Tables.load(spark, SparkFixture.sf001, "embeddings")
    val cells = CellFlatten.flatten(df, col("vec_id"), "e", lit(0L),
                                    exclude = Set("vec_id"))
    val plan = cells.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }
}
