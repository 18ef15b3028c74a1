package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import org.apache.spark.types.variant.{Variant, VariantUtil}
import org.apache.spark.unsafe.types.VariantVal

/** The reference's core semantic, re-expressed Spark-first: recursively
  * flatten a (possibly nested) row into the HBase cell model
  * `(rowkey, family, qualifier, version, value)`.
  *
  * Capability derives from pythian/json2hbase's flatten-and-store design
  * (SURVEY.md §0/§1.1 — /root/reference is empty on this host, so the
  * semantics are the publicly-known ones: nested keys joined with ".",
  * array elements indexed `path[i]`, map entries keyed `path.key`, JSON
  * primitives serialized to byte values; here serialized to deterministic
  * strings so the DuckDB oracle can compare). The recursion is FULL:
  * arrays of structs flatten to `arr[i].leaf`, arrays of arrays to
  * `arr[i][j]`, maps of anything to `m.key...` — arbitrary depth, so any
  * JSON document shape the reference ingests lands as per-leaf cells.
  *
  * Spark-first design notes (100 TB scale):
  *  - The flatten is a pure per-row projection: one `explode` over an
  *    array-of-struct column built from the static schema. No shuffle,
  *    no UDF — everything stays inside whole-stage codegen, and the
  *    explode is pipelined with the parquet scan.
  *  - Collections are flattened with `transform(..., (x, i) -> ...)` /
  *    `map_entries`, nested ones recursively via per-element `concat` +
  *    one `flatten` — variable-length/depth values never leave the row.
  *  - Null leaves are dropped after the explode (HBase stores no nulls),
  *    mirroring the reference's skip-null behavior; a null COLLECTION
  *    contributes zero cells without erasing its siblings' cells.
  */
object CellFlatten {

  private val CELLS_T = "array<struct<qualifier:string,value:string>>"

  /** Deterministic string serialization per leaf type (SURVEY §1.1).
    * Floating point goes through DECIMAL(28,6) — both engines render the
    * decimal as a plain fixed-point string, unlike raw double→string which
    * differs in scientific-notation thresholds between JVM and DuckDB. */
  private def ser(c: Column, dt: DataType): Column = dt match {
    case StringType                       => c
    case ByteType | ShortType | IntegerType | LongType | BooleanType =>
      c.cast("string")
    case FloatType | DoubleType           => c.cast(DecimalType(28, 6)).cast("string")
    case _: DecimalType                   => c.cast("string")
    case TimestampType | TimestampNTZType => unix_micros(c.cast("timestamp")).cast("string")
    case DateType                         => c.cast("string")
    case _                                => c.cast("string")
  }

  /** Fold sibling cell-arrays into one (concat keeps element order). */
  private def cat(cs: Seq[Column]): Column =
    if (cs.sizeIs == 1) cs.head else concat(cs: _*)

  /** A null collection must yield ZERO cells — `concat` with a null array
    * is null, which would erase every sibling cell of the row. */
  private def nz(c: Column): Column =
    coalesce(c, expr(s"CAST(array() AS $CELLS_T)"))

  private def nested(dt: DataType): Boolean = dt match {
    case _: StructType | _: ArrayType | _: MapType => true
    case _                                         => false
  }

  /** One array<struct<qualifier,value>> column per leaf subtree. `path`
    * is a Column so array indices / map keys can extend it per element;
    * for purely-struct paths it constant-folds back to a literal. */
  private def leafCells(c: Column, dt: DataType, path: Column): Seq[Column] = dt match {
    case st: StructType =>
      st.fields.toSeq.flatMap(f =>
        leafCells(c.getField(f.name), f.dataType, concat(path, lit("." + f.name))))
    case ArrayType(et, _) =>
      val idx = (i: Column) => concat(path, lit("["), i.cast("string"), lit("]"))
      val cells =
        if (nested(et))
          F.flatten(transform(c, (x, i) => cat(leafCells(x, et, idx(i)))))
        else
          transform(c, (x, i) =>
            struct(idx(i).as("qualifier"), ser(x, et).as("value")))
      Seq(nz(cells))
    case MapType(_, vt, _) =>
      // map key → qualifier component: the natural HBase mapping (the
      // reference stores JSON object members as qualifiers, and a map IS
      // a dynamic-membership object).
      val entries = map_entries(c)
      val q = (e: Column) => concat(path, lit("."), e.getField("key").cast("string"))
      val cells =
        if (nested(vt))
          F.flatten(transform(entries, e =>
            cat(leafCells(e.getField("value"), vt, q(e)))))
        else
          transform(entries, e =>
            struct(q(e).as("qualifier"), ser(e.getField("value"), vt).as("value")))
      Seq(nz(cells))
    case other =>
      Seq(array(struct(path.as("qualifier"), ser(c, other).as("value"))))
  }

  /** DYNAMIC (schema-less) flatten — json2hbase's true input mode: the
    * document structure is unknown until runtime, so it arrives as one
    * Spark 4 VARIANT column and is flattened by runtime inspection to
    * ARBITRARY depth (matching the static `flatten` below, which needs a
    * schema). `docs` must have columns `(rowkey string, version long,
    * v variant)`.
    *
    * One lazy pass: a typed UDF walks each document and returns its
    * `(qualifier, leaf variant)` pairs, which one `explode` turns into
    * rows; calling this runs no job. An object member extends the
    * qualifier with `.key` (the bare key under an empty parent
    * qualifier), an array element with `[i]`. Leaves are serialized by
    * `variant_get(leaf, '$', 'string')`. A root that is not a container,
    * a SQL NULL document and a JSON null leaf give no cells. An object
    * or array at level 64 or deeper (the root is level 0) fails the
    * action with an IllegalStateException naming `tag`: nothing is
    * truncated or emitted as JSON text.
    *
    * Scale notes: a per-row generator with no shuffle, pipelined with
    * whatever produces `docs`; each document is decoded once. */
  def flattenVariant(docs: DataFrame, family: String, tag: String): DataFrame =
    docs.select(col("rowkey"), col("version"),
                explode(variantLeaves(tag)(col("v"))).as("cell"))
      .select(col("rowkey"), lit(family).as("family"),
              col("cell._1").as("qualifier"), col("version"),
              variant_get(col("cell._2"), "$", "string").as("value"))
      .filter(col("value").isNotNull) // JSON null leaf → no cell (HBase semantics)

  private val MaxDepth = 64

  /** The document walk behind [[flattenVariant]]. */
  private def variantLeaves(tag: String) = udf { (doc: VariantVal) =>
    val out = Seq.newBuilder[(String, VariantVal)]
    def walk(v: Variant, q: String, level: Int): Unit = v.getType match {
      case VariantUtil.Type.OBJECT | VariantUtil.Type.ARRAY if level >= MaxDepth =>
        throw new IllegalStateException(
          s"flattenVariant: document nesting exceeds $MaxDepth levels (tag=$tag)")
      case VariantUtil.Type.OBJECT =>
        for (i <- 0 until v.objectSize) {
          val f = v.getFieldAtIndex(i)
          walk(f.value, if (q.isEmpty) f.key else s"$q.${f.key}", level + 1)
        }
      case VariantUtil.Type.ARRAY =>
        for (i <- 0 until v.arraySize)
          walk(v.getElementAtIndex(i), s"$q[$i]", level + 1)
      case _ if level > 0 => out += q -> new VariantVal(v.getValue, v.getMetadata)
      case _ => // a scalar root is not a document: no cells
    }
    if (doc != null) walk(new Variant(doc.getValue, doc.getMetadata), "", 0)
    out.result()
  }.withName("variant_leaves")

  /** Flatten `df` into cells. `rowkey` must be unique per input row;
    * `version` is the HBase cell timestamp. Columns used for rowkey or
    * version can be excluded from the payload via `exclude`. */
  def flatten(df: DataFrame, rowkey: Column, family: String, version: Column,
              exclude: Set[String] = Set.empty): DataFrame = {
    val payload = df.schema.fields.filterNot(f => exclude(f.name))
    val pieces = payload.toSeq.flatMap { f =>
      leafCells(col(f.name), f.dataType, lit(f.name))
    }
    val cellsCol = pieces.reduceLeft(concat(_, _))
    df.select(rowkey.cast("string").as("rowkey"), version.as("version"),
              explode(cellsCol).as("cell"))
      .select(col("rowkey"), lit(family).as("family"),
              col("cell.qualifier").as("qualifier"), col("version"),
              col("cell.value").as("value"))
      .filter(col("value").isNotNull)
  }
}
