package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, parse_json}

import graft.operators.CellFlatten
import graft.sources.cell.GraftCell

/** The benchmark's own tests:
  *  1. the same seed gives byte-identical documents (and the generator
  *     covers every depth 1..6, empty arrays and JSON nulls);
  *  2. the model agrees with `CellFlatten.flattenVariant` on generated
  *     documents;
  *  3. the checker the workloads use accepts an intact store and rejects
  *     one with a single cell dropped or altered.
  * Returns the process exit code: 0 when all pass. */
object SelfTest {
  private val N = 1500

  /** Maximum bracket nesting of a JSON text (root = 1). */
  private def depth(json: String): Int = {
    var d = 0; var max = 0; var inStr = false
    json.foreach {
      case '"'                    => inStr = !inStr
      case '{' | '[' if !inStr    => d += 1; max = math.max(max, d)
      case '}' | ']' if !inStr    => d -= 1
      case _                      =>
    }
    max
  }

  def run(spark: SparkSession, work: String, seed: Long): Int = {
    var failures = 0
    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else ": " + detail}")
      if (!ok) failures += 1
    }

    // 1. determinism
    val docs = new Gen(seed).docs(0, N)
    val again = new Gen(seed).docs(0, N)
    val other = new Gen(seed + 1).docs(0, N)
    def bytes(ds: Seq[Doc]) = ds.map(d => s"${d.rowkey}\t${d.version}\t${d.json}\n").mkString.getBytes("UTF-8")
    check("same seed gives byte-identical docs",
      java.util.Arrays.equals(bytes(docs), bytes(again)))
    check("another seed gives other docs", !java.util.Arrays.equals(bytes(docs), bytes(other)))
    val depths = docs.map(d => depth(d.json)).toSet
    check("generator covers depths 1..6", depths == (1 to 6).toSet, s"depths $depths")
    check("generator emits empty arrays and JSON nulls",
      docs.exists(_.json.contains("[]")) && docs.exists(_.json.contains("null")))

    // 2. model vs the program's flatten
    val rows = new java.util.ArrayList[Row]()
    docs.foreach(d => rows.add(Row(d.rowkey, d.version, d.json)))
    val flat = CellFlatten.flattenVariant(
      spark.createDataFrame(rows, Store.DocSchema)
        .select(col("rowkey"), col("version"), parse_json(col("json")).as("v")),
      Store.Family, "perfbench-selftest")
    val program = flat.collect().toSeq
      .map(r => Cell(r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getString(4)))
      .sorted
    val model = docs.flatMap(Model.cells(_, Store.Family)).sorted
    check(s"model agrees with CellFlatten.flattenVariant on $N docs (${model.size} cells)",
      program == model,
      s"program ${program.size} cells, model ${model.size}; " +
      s"first difference ${program.zip(model).find { case (p, m) => p != m }}")

    // 3. the checker: count plus reads of the touched key, as in the workloads
    val victim = model(model.size / 2)
    def verdict(store: Store): Boolean = {
      val reads = Seq(Get(victim.rowkey), Prefix(victim.rowkey.take(5), None),
                      MultiGet(Seq(victim.rowkey, model.head.rowkey)))
      store.count(spark) == store.cells &&
        reads.forall(r => store.read(spark, Tracer.Off, r)._1 == store.expected(r))
    }
    def storeOf(name: String, cells: Seq[Cell]): Store = {
      val s = new Store(s"$work/selftest_$name")
      val rs = new java.util.ArrayList[Row]()
      cells.foreach(c => rs.add(Row(c.rowkey, c.family, c.qualifier, c.version, c.value)))
      spark.createDataFrame(rs, GraftCell.SCHEMA).write.format("graftcell").mode("append").save(s.path)
      s.add(docs)
      s
    }
    val intact = new Store(s"$work/selftest_intact")
    intact.write(spark, Tracer.Off, docs)
    intact.add(docs)
    check("checker accepts the intact store", verdict(intact))
    check("checker rejects a store with one cell dropped",
      !verdict(storeOf("dropped", model.filterNot(_ == victim))))
    check("checker rejects a store with one cell altered",
      !verdict(storeOf("altered", model.map(c => if (c == victim) c.copy(value = c.value + "x") else c))))

    println(s"[selftest] ${if (failures == 0) "all passed" else s"$failures failed"}")
    if (failures == 0) 0 else 1
  }
}
