package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}

/** The `ingest` and `serve` workloads. Both build their inputs from the
  * seed, time their ops, check every op's output against the model, and
  * report the same end-to-end metrics (ops of a class a workload runs
  * rarely still occur at least once per run). Sizes are recorded in
  * perfbench/DESIGN.md. */
object Workloads {
  /** Set-up is repeated this many times per run; `setup_s` takes the
    * median. */
  val SetupReps = 3
  // ingest
  val IngestBatch = 10000
  val IngestWarmDocs = 4000
  /** Reads of each set-up store, after it is written. */
  val WarmReads = 15
  /** Each batch of the window goes into a fresh store and is read back
    * there. A read touches one file of every batch in a store, so
    * reading back one growing store would make the reads slower the
    * further a run gets, and their medians would move with the host's
    * speed twice over. Appends to a store that already holds batches are
    * `serve`'s Puts. */
  val IngestReads: Seq[String] = Seq.fill(5)(Seq("get", "multiget", "scan")).flatten
  // serve
  val ServeDocs = 4000
  val ServeBatch = 2000
  val PutDocs = 50
  val MultiGetKeys = 4
  /** Op classes per shuffled deck of 26 ops, so every run of a few
    * seconds sees each class. */
  val ServeDeck: Seq[String] =
    Seq.fill(10)("get") ++ Seq.fill(4)("multiget") ++ Seq.fill(5)("prefix") ++
    Seq.fill(5)("range") ++ Seq.fill(2)("put")
  val ProjShare = 0.4

  final case class OpRec(kind: String, ns: Long, ok: Boolean, docs: Int)

  final class Run(val spark: SparkSession, val tr: Tracer) {
    val ops = ArrayBuffer.empty[OpRec]
    var planted: Option[String] = None
    /** Traced per-write and per-read detail. */
    val writeFiles = ArrayBuffer.empty[(Int, Long)]
    val scanInfo = ArrayBuffer.empty[ScanInfo]
    val readRows = ArrayBuffer.empty[Int]
    var cellsWritten = 0L

    def timedWrite(store: Store, ds: Seq[Doc], kind: String): Unit = {
      tr.op = ops.size + 1
      val before = if (tr.on) Some((store.files.count(isData), store.bytesOnDisk)) else None
      val t0 = System.nanoTime()
      val ok = tryOp(tr.span("op." + kind) { store.write(spark, tr, ds) }).isDefined
      ops += OpRec(kind, System.nanoTime() - t0, ok, ds.size)
      val cells0 = store.cells
      store.add(ds)
      cellsWritten += store.cells - cells0
      before.foreach { case (f, b) =>
        writeFiles += ((store.files.count(isData) - f, store.bytesOnDisk - b))
      }
    }

    def timedRead(store: Store, r: Read): Unit = {
      tr.op = ops.size + 1
      val t0 = System.nanoTime()
      val res = tryOp(tr.span("op." + r.kind) { store.read(spark, tr, r) })
      val ns = System.nanoTime() - t0
      val ok = res.exists { case (got, _) =>
        val want = store.expected(r)
        if (got != want) System.err.println(
          s"[perfbench] MISMATCH ${r}: got ${got.size} cells, model ${want.size}; " +
          s"first difference: ${firstDiff(got, want)}")
        got == want
      }
      ops += OpRec(r.kind, ns, ok, 0)
      res.foreach { case (got, info) => info.foreach(scanInfo += _); readRows += got.size }
    }
  }

  private def isData(f: java.io.File) = f.getName.endsWith(".parquet")

  private def tryOp[T](body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Exception =>
        System.err.println(s"[perfbench] op failed: $e")
        None
    }

  private def firstDiff(a: Seq[Cell], b: Seq[Cell]): String = {
    val i = a.zip(b).indexWhere { case (x, y) => x != y }
    if (i >= 0) s"${a(i)} vs ${b(i)}"
    else if (a.size > b.size) s"extra ${a(b.size)}" else s"missing ${b(a.size)}"
  }

  /** Appends one cell that the model does not predict, on a key the next
    * read will touch: the check must catch it. */
  private def plant(run: Run, store: Store, key: String): Unit = {
    val rows = java.util.List.of(Row(key, Store.Family, "planted", 1L, "wrong"))
    run.spark.createDataFrame(rows, graft.sources.cell.GraftCell.SCHEMA)
      .write.format("graftcell").mode("append").save(store.path)
    run.planted = Some(key)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1))
  }

  /** Runs workload `name`: set-up, the timed window, the whole-store
    * check, and the metrics. */
  def run(name: String, spark: SparkSession, tr: Tracer, work: String, seed: Long,
          seconds: Double, plantWrong: Boolean, sessionS: Double): Result = {
    val run = new Run(spark, tr)
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val setupTimes = ArrayBuffer.empty[Double]
    // every read class a few times over, so that the window does not
    // start while the read path is still being compiled
    def warmReads(store: Store): Unit = {
      val ks = store.docs.keysIterator.toIndexedSeq
      for (i <- 0 until WarmReads) {
        val j = i * 7919 % ks.size
        val k = ks(j)
        store.read(spark, Tracer.Off, i % 5 match {
          case 0 => Get(k)
          case 1 => MultiGet(Seq.tabulate(MultiGetKeys)(m => ks((i + m * 997) % ks.size)))
          case 2 => Prefix(k.take(5), None)
          case 3 => Prefix(k.take(5), Some(Gen.Vocab(i % Gen.Vocab.size)))
          case _ => Range(k, ks(math.min(j + ks.size / 50, ks.size - 1)), None)
        })
      }
    }

    var store: Store = null
    /** Every store the window wrote to: one per batch on `ingest`. */
    val stores = ArrayBuffer.empty[Store]
    name match {
      case "ingest" =>
        val warm = new Gen(seed ^ 0x5EEDL).docs(0, IngestWarmDocs)
        for (i <- 1 to SetupReps) {
          val t0 = System.nanoTime()
          val s = new Store(s"$work/warm_$i")
          s.write(spark, Tracer.Off, warm)
          s.add(warm)
          warmReads(s)
          setupTimes += (System.nanoTime() - t0) / 1e9
        }
      case "serve" =>
        val base = new Gen(seed).docs(0, ServeDocs)
        for (i <- 1 to SetupReps) {
          val t0 = System.nanoTime()
          store = new Store(s"$work/serve_$i")
          base.grouped(ServeBatch).foreach(b => store.write(spark, Tracer.Off, b))
          store.add(base)
          warmReads(store)
          setupTimes += (System.nanoTime() - t0) / 1e9
        }
        if (plantWrong) plant(run, store, store.docs.keysIterator.drop(7).next())
        stores += store
    }

    val gc0 = Tracer.gcMs()
    val w0ms = System.currentTimeMillis()
    val w0 = System.nanoTime()
    val deadline = w0 + (seconds * 1e9).toLong
    def pick(ks: collection.IndexedSeq[String]): String = ks(rnd.nextInt(ks.size))
    def proj(): Option[String] =
      if (rnd.nextDouble() < ProjShare) Some(Gen.Vocab(rnd.nextInt(Gen.Vocab.size))) else None

    name match {
      case "ingest" =>
        val gen = new Gen(seed)
        var next = 0L
        // whole batches: the batch under way at the deadline is finished
        // with its read-backs, so every run has the same mix of ops
        while (System.nanoTime() < deadline) {
          store = new Store(s"$work/ingest_${stores.size + 1}")
          stores += store
          val batch = gen.docs(next, IngestBatch)
          next += IngestBatch
          run.timedWrite(store, batch, "write")
          val ks = batch.map(_.rowkey)
          if (plantWrong && next == IngestBatch) {
            plant(run, store, ks.head)
            run.timedRead(store, Get(ks.head))
          }
          IngestReads.foreach {
            case "get" => run.timedRead(store, Get(pick(ks)))
            case "multiget" => run.timedRead(store, MultiGet(Seq.fill(MultiGetKeys)(pick(ks))))
            case "scan" => run.timedRead(store, Prefix(pick(ks).take(5), None))
          }
        }
      case "serve" =>
        val putGen = new Gen(seed * 31 + 7)
        var nextSeq = ServeDocs.toLong
        val keys = ArrayBuffer.from(store.docs.keysIterator)
        val deck = ArrayBuffer.from(ServeDeck)
        var pos = 0
        run.planted.foreach(k => run.timedRead(store, Get(k)))
        while (System.nanoTime() < deadline) {
          if (pos == 0) for (i <- deck.indices.reverse) {
            val j = rnd.nextInt(i + 1); val t = deck(i); deck(i) = deck(j); deck(j) = t
          }
          val kind = deck(pos)
          pos = (pos + 1) % deck.size
          kind match {
            case "get" => run.timedRead(store, Get(pick(keys)))
            case "multiget" =>
              run.timedRead(store, MultiGet(Seq.fill(MultiGetKeys)(pick(keys))))
            case "prefix" => run.timedRead(store, Prefix(pick(keys).take(5), proj()))
            case "range" =>
              // a short range inside one group: from a stored key over a
              // fifth of the store's sequence numbers
              val k = pick(keys)
              val hi = k.drop(5).toLong + ServeDocs / 5
              run.timedRead(store, Range(k, k.take(5) + s"%0${Gen.SeqDigits}d".format(hi), proj()))
            case "put" =>
              val ds = putGen.docs(nextSeq, PutDocs)
              nextSeq += PutDocs
              run.timedWrite(store, ds, "put")
              keys ++= ds.map(_.rowkey)
          }
        }
    }
    val w1 = System.nanoTime()
    val w1ms = System.currentTimeMillis()
    val gc1 = Tracer.gcMs()

    // whole-store check: the program's cell count must equal the model's
    val countOk = stores.map { s =>
      val stored = s.count(spark)
      if (stored != s.cells) System.err.println(
        s"[perfbench] MISMATCH store count of ${s.path}: program $stored, model ${s.cells}")
      stored == s.cells
    }.forall(identity)

    val ops = run.ops.toSeq
    val failed = ops.count(!_.ok) + (if (countOk) 0 else 1)
    val attempted = ops.size + 1
    val windowS = (w1 - w0) / 1e9
    def ms(kinds: String*) = ops.filter(o => kinds.contains(o.kind)).map(_.ns / 1e6)
    val writes = ops.filter(o => o.kind == "write" || o.kind == "put")
    // point Gets and multi-gets apart: a multi-get reads several files
    // and takes about twice as long, so one median of both would sit
    // between two modes and move with their share
    val gets = ms("get")
    val multiGets = ms("multiget")
    val scans = ms("prefix", "range")

    val e2e = Seq(
      M("setup_s", sessionS + median(setupTimes.toSeq), "s"),
      M("ingest_docs_per_s", writes.map(_.docs).sum / (writes.map(_.ns).sum / 1e9), "docs/s"),
      M("write_ms_p50", median(writes.map(_.ns / 1e6)), "ms"),
      M("get_ms_p50", median(gets), "ms"),
      M("multiget_ms_p50", median(multiGets), "ms"),
      M("scan_ms_p50", median(scans), "ms"),
      M("ops_per_s", ops.size / windowS, "ops/s"),
      M("store_bytes_per_json_byte",
        stores.map(_.bytesOnDisk).sum.toDouble / stores.map(_.jsonBytes).sum, "ratio"))
    val info = Seq(
      M("ops_failed_frac", failed.toDouble / attempted, "ratio"),
      M("session_start_s", sessionS, "s"),
      M("setup_rep_s_median", median(setupTimes.toSeq), "s"),
      M("get_ms_p90", pct(gets, 0.9), s"ms(n=${gets.size})"),
      M("multiget_ms_p90", pct(multiGets, 0.9), s"ms(n=${multiGets.size})"),
      M("scan_ms_p90", pct(scans, 0.9), s"ms(n=${scans.size})"),
      M("writes", writes.size.toDouble, "count"),
      M("store_cells", stores.map(_.cells).sum.toDouble, "count"),
      M("window_s", windowS, "s"))

    val layer = if (tr.on) {
      tr.drain()
      Layers.metrics(run, tr, ops.size, w0ms, w1ms, gc1 - gc0, windowS,
        spark.sparkContext.defaultParallelism, writes.map(_.docs).sum)
    } else Nil
    tr.writeSpans(java.nio.file.Paths.get(s"$work/spans.jsonl"))
    Result(e2e, layer, info, attempted, failed)
  }
}

/** One metric value and its unit. */
final case class M(name: String, value: Double, unit: String)
/** A workload run: its end-to-end metrics, its per-layer metrics (traced
  * runs only), metrics that are printed but not compared, and its op
  * counts. */
final case class Result(e2e: Seq[M], layer: Seq[M], info: Seq[M], attempted: Int, failed: Int)
