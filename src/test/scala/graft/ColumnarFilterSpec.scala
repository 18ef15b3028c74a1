package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.cell.{CellFooterCache, GraftCell, GraftCellScan}

/** Gates the FILTERED columnar read path: every residual scan shape
  * (pushed range/point/IN filters, filters on non-projected columns,
  * fuzzy patterns, pushed TABLESAMPLE, pushed LIMIT over a filter,
  * runtime DPP filters, NULL columns) must run a columnar graftcell
  * scan and return exactly the rows of an INDEPENDENT reference:
  * Spark's own `spark.read.parquet` over the same committed region
  * files, each predicate written as plain Spark expressions. No
  * connector code (not even [[graft.sources.cell.CellResidual]]) runs
  * on the reference side, so this suite checks the residual semantics
  * as well as the decode. Rows compare as multisets: NULL rowkeys tie
  * under any ordering. */
class ColumnarFilterSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val s = SparkFixture.spark

  private lazy val store: String = {
    import scala.jdk.CollectionConverters._
    val path = java.nio.file.Files
      .createTempDirectory("graft_colfilter_spec_").toString + "/store"
    val rows = (0 until 30000).map { i =>
      org.apache.spark.sql.Row(
        if (i % 97 == 0) null else f"k$i%06d",
        s"f${i % 3}",
        s"q${i % 7}",
        if (i % 89 == 0) null else java.lang.Long.valueOf((i % 1000).toLong),
        if (i % 83 == 0) null else f"v$i%06d")
    }
    s.createDataFrame(rows.asJava, GraftCell.SCHEMA)
      .write.format("graftcell").option("maxRowsPerFile", 4000)
      .mode("overwrite").save(path)
    path
  }

  private def load() = s.read.format("graftcell").load(store)

  /** The reference: plain parquet over the store's committed files. */
  private def ref() = s.read.schema(GraftCell.SCHEMA)
    .parquet(CellFooterCache.filesOf(store).map(_.path): _*)

  private def bag(df: DataFrame): Map[org.apache.spark.sql.Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** `got` must run a columnar graftcell scan and equal `want`. */
  private def check(got: DataFrame, want: DataFrame): Unit = {
    val gotRows = bag(got)
    val scans = collect(got.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftCellScan] => b
    }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      s"expected a columnar graftcell scan:\n${got.queryExecution.executedPlan}")
    val wantRows = bag(want)
    val differing = (gotRows.keySet ++ wantRows.keySet)
      .filter(r => gotRows.get(r) != wantRows.get(r))
    val agree = differing.isEmpty
    assert(agree,
      s"graftcell and the parquet reference must agree " +
      s"(${gotRows.values.sum} vs ${wantRows.values.sum} rows; " +
      s"${differing.size} rows differ, e.g. ${differing.take(3)})")
    assert(gotRows.nonEmpty, "a shape that matches nothing proves nothing")
  }

  test("pushed rowkey range filter decodes vectorized and equals the " +
       "parquet reference") {
    val band = col("rowkey") >= "k010000" && col("rowkey") < "k012000"
    check(load().filter(band), ref().filter(band))
  }

  test("pushed IN multiget (incl. a filter column outside the projection)") {
    val p = col("rowkey").isin("k000006", "k001002", "k029997") &&
            col("family") === "f0"
    check(load().filter(p).select("qualifier", "version", "value"),
          ref().filter(p).select("qualifier", "version", "value"))
  }

  test("value point filter with NULL rowkeys/versions/values in-stream") {
    val point = col("value") === "v000167"
    check(load().filter(point), ref().filter(point))
    // NULL-matching semantics: IsNull is an accepted pushed filter
    val nulls = col("rowkey").isNull && col("value").isNotNull
    check(load().filter(nulls), ref().filter(nulls))
  }

  test("fuzzy rowkey pattern decodes vectorized") {
    check(s.read.format("graftcell").option("fuzzy", "k??77??").load(store),
          ref().filter(col("rowkey").like("k__77__%")))
  }

  test("pushed TABLESAMPLE composes with a pushed filter") {
    val (frac, seed) = (0.23, 42L)
    // the membership rule of CellResidual's doc comment, in plain SQL
    val member = expr(
      s"cast(conv(substring(md5(concat('$seed:', coalesce(rowkey, ''), " +
      s"':', coalesce(qualifier, ''))), 1, 8), 16, 10) as bigint) % 10000 " +
      s"< ${math.round(frac * 10000)}")
    check(load().sample(frac, seed).filter(col("family") === "f1"),
          ref().filter(member && col("family") === "f1"))
  }

  test("pushed LIMIT over a filter counts survivors (deterministic " +
       "when matches < limit)") {
    // 'q3' cells of one narrow band: ~40 matches, limit far above —
    // the scan must return exactly the full match set
    val band = col("rowkey") >= "k005000" && col("rowkey") < "k005300" &&
               col("qualifier") === "q3"
    check(load().filter(band).limit(5000), ref().filter(band))
    // and a HARD limit returns exactly k rows, every one a match
    val f2 = col("family") === "f2"
    val got = bag(load().filter(f2).limit(123))
    val want = bag(ref().filter(f2))
    assert(got.values.sum == 123 &&
           got.forall { case (r, n) => want.getOrElse(r, 0) >= n })
  }

  test("runtime rowkey filter (broadcast-join DPP path) decodes " +
       "vectorized and equals the parquet reference") {
    import scala.jdk.CollectionConverters._
    val dim = s.createDataFrame(
      Seq("k000014", "k000700", "k021000")
        .map(k => org.apache.spark.sql.Row(k)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.StringType))))
    def joined(cells: DataFrame) =
      cells.join(broadcast(dim), col("rowkey") === col("k"))
        .select("rowkey", "family", "qualifier", "version", "value")
    check(joined(load()), joined(ref()))
  }
}
