package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, parse_json}
import org.apache.spark.sql.types.StructType

import graft.operators.CellFlatten

/** A read op against the store, and the predicate the model applies to
  * answer it. `proj` narrows the result to cells whose qualifier starts
  * with it, projected to (rowkey, qualifier, value). */
sealed trait Read {
  def kind: String
  def filter: Column
  def keep(rowkey: String): Boolean
  def proj: Option[String]
  /** The slice of the sorted rowkey space the op can touch. */
  def keys(docs: mutable.TreeMap[String, Doc]): Iterable[Doc]
}
final case class Get(k: String) extends Read {
  def kind = "get"
  def filter: Column = col("rowkey") === k
  def keep(r: String): Boolean = r == k
  def proj: Option[String] = None
  def keys(d: mutable.TreeMap[String, Doc]): Iterable[Doc] = d.get(k)
}
final case class MultiGet(ks: Seq[String]) extends Read {
  def kind = "multiget"
  def filter: Column = col("rowkey").isin(ks: _*)
  def keep(r: String): Boolean = ks.contains(r)
  def proj: Option[String] = None
  def keys(d: mutable.TreeMap[String, Doc]): Iterable[Doc] = ks.distinct.flatMap(d.get)
}
final case class Prefix(p: String, proj: Option[String]) extends Read {
  def kind = "prefix"
  def filter: Column = col("rowkey").startsWith(p)
  def keep(r: String): Boolean = r.startsWith(p)
  def keys(d: mutable.TreeMap[String, Doc]): Iterable[Doc] =
    d.valuesIteratorFrom(p).takeWhile(_.rowkey.startsWith(p)).toSeq
}
final case class Range(lo: String, hi: String, proj: Option[String]) extends Read {
  def kind = "range"
  def filter: Column = col("rowkey") >= lo && col("rowkey") < hi
  def keep(r: String): Boolean = r >= lo && r < hi
  def keys(d: mutable.TreeMap[String, Doc]): Iterable[Doc] = d.range(lo, hi).values
}

/** What one traced read saw of the scan layer. */
final case class ScanInfo(partitions: Int, filesSelected: Int, filesTotal: Int)

/** A graftcell store under `path` and the model of what it holds: every
  * document written to it, by rowkey. */
final class Store(val path: String) {
  import Store._
  val docs = mutable.TreeMap.empty[String, Doc]
  var cells = 0L
  var jsonBytes = 0L

  def add(ds: Seq[Doc]): Unit = ds.foreach { d =>
    docs(d.rowkey) = d
    cells += Model.cellCount(d)
    jsonBytes += d.json.getBytes("UTF-8").length
  }

  /** The model's answer to `r`, sorted. */
  def expected(r: Read): Seq[Cell] = {
    val all = r.keys(docs).iterator.filter(d => r.keep(d.rowkey))
      .flatMap(d => Model.cells(d, Family))
    project(all.toSeq, r.proj).sorted
  }

  /** Appends `ds` through the program's ingest path: JSON text →
    * `parse_json` → `CellFlatten.flattenVariant` → graftcell append. The
    * caller adds them to the model with [[add]], outside any timing. */
  def write(spark: SparkSession, tr: Tracer, ds: Seq[Doc]): Unit = {
    val rows = new java.util.ArrayList[Row](ds.size)
    ds.foreach(d => rows.add(Row(d.rowkey, d.version, d.json)))
    val docsDf = spark.createDataFrame(rows, DocSchema)
      .select(col("rowkey"), col("version"), parse_json(col("json")).as("v"))
    val flat = tr.span("flatten") { CellFlatten.flattenVariant(docsDf, Family, "perfbench") }
    tr.span("store.write") { flat.write.format("graftcell").mode("append").save(path) }
  }

  /** Runs `r` through `spark.read.format("graftcell")`: the physical
    * plan (listing, footer cache, file pruning) is built first, then the
    * rows are collected. Returns the sorted cells and, when traced, what
    * the scan planned. */
  def read(spark: SparkSession, tr: Tracer, r: Read): (Seq[Cell], Option[ScanInfo]) = {
    var df = spark.read.format("graftcell").load(path).filter(r.filter)
    r.proj.foreach { p =>
      df = df.filter(col("qualifier").startsWith(p)).select("rowkey", "qualifier", "value")
    }
    val info = tr.span("scan.plan") {
      val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      val parts = scans.map(_.inputPartitions.size).sum
      if (!tr.on) None
      else {
        val files = scans.flatMap(s => RegionFiles.findFirstMatchIn(s.scan.description()))
        Some(ScanInfo(parts, files.map(_.group(1).toInt).sum, files.map(_.group(2).toInt).sum))
      }
    }
    val rows = tr.span("scan.exec") { df.collect() }
    val got = rows.toSeq.map { row =>
      if (r.proj.isDefined) Cell(row.getString(0), "", row.getString(1), 0L, row.getString(2))
      else Cell(row.getString(0), row.getString(1), row.getString(2), row.getLong(3), row.getString(4))
    }
    (got.sorted, info)
  }

  /** Cells the store holds, counted by the program. */
  def count(spark: SparkSession): Long = spark.read.format("graftcell").load(path).count()

  /** Committed bytes on disk under the store's directory. */
  def bytesOnDisk: Long = files.map(_.length).sum
  def files: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).fold(Seq.empty[java.io.File])(_.toSeq.flatMap(walk))
      else Seq(f)
    walk(new java.io.File(path))
  }
}

object Store {
  val Family = "d"
  val DocSchema: StructType = StructType.fromDDL("rowkey STRING, version BIGINT, json STRING")
  private val RegionFiles = """regionFiles: (\d+)/(\d+)""".r

  def project(cs: Seq[Cell], proj: Option[String]): Seq[Cell] = proj match {
    case None    => cs
    case Some(p) => cs.filter(_.qualifier.startsWith(p)).map(_.copy(family = "", version = 0L))
  }
}
