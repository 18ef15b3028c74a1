package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions is the spark.sql.extensions entry point: a session
  * built with it must expose the SQL functions and plan the custom
  * as-of join with NO manual registration call anywhere. The spec
  * builds a second SparkSession over the fixture's SparkContext (the
  * extension instance is applied per-SparkSession, so sharing the
  * context is fine) and restores the fixture session afterwards. */
class ExtensionsSpec extends AnyFunSuite {

  private def withExtSession[A](f: SparkSession => A): A = {
    val orig = SparkFixture.spark // forces fixture init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // `spark.sql.extensions` is a STATIC conf: Spark's builder reads it
      // from the (already-created, shared) SparkContext's conf and
      // instantiates each class by zero-arg reflection. The test JVM
      // can't rebuild the context, so reproduce that exact mechanism —
      // reflective instantiation by class NAME — and hand the instance
      // to withExtensions, which feeds the same injection pipeline.
      val ext = Class.forName("graft.GraftExtensions")
        .getDeclaredConstructor().newInstance()
        .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
      val s = SparkSession.builder()
        .withExtensions(ext)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
      // No catalog cleanup: the external catalog is SharedState-scoped
      // (per SparkContext, shared with the fixture session), so a reset
      // here would drop OTHER suites' staged tables (e.g. Joins'
      // bucketed tables) under sbt's parallel suite execution. This spec
      // creates no catalog objects, so there is nothing to drop.
      f(s)
    } finally {
      SparkSession.setActiveSession(orig)
      SparkSession.setDefaultSession(orig)
    }
  }

  test("graft_cosine / graft_jaccard resolve from SQL text via extensions") {
    withExtSession { s =>
      val r = s.sql(
        """SELECT graft_cosine(array(cast(3.0 as float), cast(4.0 as float)),
                               array(cast(3.0 as float), cast(4.0 as float))) AS c,
                  graft_jaccard(array('a', 'b', 'c'), array('b', 'c', 'd')) AS j
        """).collect()(0)
      assert(r.getDouble(0) == 1.0, s"cosine of a vector with itself: $r")
      assert(r.getDouble(1) == 0.5, s"jaccard {a,b,c} vs {b,c,d}: $r")
    }
  }

  test("graft_jaccard equals the composed size(array_intersect)/size(array_union)") {
    withExtSession { s =>
      def sd(c: org.apache.spark.sql.Column) =
        array_sort(array_distinct(split(c, " ")))
      val a = sd(col("text"))
      val b = sd(concat(col("text"), lit(" zzqq")))
      val df = s.read.parquet(SparkFixture.sf001 + "/documents.parquet")
        .select(col("doc_id"),
                call_function("graft_jaccard", a, b).as("fused"),
                (size(array_intersect(a, b)).cast("double") /
                  size(array_union(a, b))).as("composed"),
                size(sd(col("text"))).as("n"))
      // b = a ∪ {zzqq} ⇒ both forms must be exactly n/(n+1) per row
      df.collect().foreach { r =>
        val n = r.getInt(3).toDouble
        assert(r.getDouble(1) == r.getDouble(2) && r.getDouble(1) == n / (n + 1),
               s"doc ${r.getLong(0)}: fused ${r.getDouble(1)}, " +
               s"composed ${r.getDouble(2)}, expected $n/(n+1)")
      }
    }
  }

  test("AsOfStrategy fires via extensions (no experimental registration)") {
    withExtSession { s =>
      import s.implicits._
      assert(s.experimental.extraStrategies.isEmpty,
             "precondition: nothing manually registered on this session")
      val left = Seq((1L, 100L), (1L, 200L), (2L, 50L))
        .toDF("user_id", "ts_us")
      val right = Seq((1L, 90L), (1L, 150L), (2L, 60L))
        .toDF("user_id", "ts_us")
      // build() constructs the AsOfJoin node WITHOUT installing the
      // strategy; only the extension-injected strategy can plan it.
      val out = plans.AsOfJoinPlan
        .build(s, left, right, "user_id", "ts_us", "asof_ts")
        .orderBy("user_id", "ts_us")
        .collect().map(r => (r.getLong(0), r.getLong(1),
                             if (r.isNullAt(2)) -1L else r.getLong(2)))
      assert(out.toSeq == Seq((1L, 100L, 90L), (1L, 200L, 150L),
                              (2L, 50L, -1L)),
             s"as-of result mismatch: ${out.toSeq}")
    }
  }
}
