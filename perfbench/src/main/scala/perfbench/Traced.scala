package perfbench

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.StellarXdr
import graft.model.LedgerModel.LedgerRow
import graft.operators._
import graft.sources.{LcmBatchFiles, SerializableHadoopConf}

/** Cumulative-prefix jobs over one object set, at the parallelism
  * `ledgerRowsForRange` uses (one slice per core, capped by the object
  * count). Stage 1 = Hadoop open + read, 2 = + zstd, 3 = + XDR decode.
  * Returns (bytes or ledgers, transactions); a corrupt object counts 0. */
object Prefix {
  def run(spark: SparkSession, paths: Seq[String], stage: Int): (Long, Long) = {
    val sc = spark.sparkContext
    val conf = new SerializableHadoopConf(sc.hadoopConfiguration)
    val slices = math.max(1, math.min(paths.size, sc.defaultParallelism))
    val nid = StellarXdr.PublicNetworkId
    sc.parallelize(paths, slices).map { p =>
      val hp = new HPath(p)
      val in = hp.getFileSystem(conf.value).open(hp)
      val bytes = try in.readAllBytes() finally in.close()
      try stage match {
        case 1 => (bytes.length.toLong, 0L)
        case 2 => (unzstd(bytes).length.toLong, 0L)
        case _ =>
          val rows = StellarXdr.decodeLedgerCloseMetaBatch(unzstd(bytes), nid)
          (rows.size.toLong, rows.map(_.transactions.size.toLong).sum)
      } catch { case _: Exception => (0L, 0L) }
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  def unzstd(b: Array[Byte]): Array[Byte] = {
    val in = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(b))
    try in.readAllBytes() finally in.close()
  }
}

/** The traced run: a traced pass (counting file system + listener +
  * spans), an untraced pass (the overhead baseline), then per call the
  * prefixes P1..P5 and the plan phases, all measured from outside the
  * program through its public functions. Figures are per pass. */
final class Traced(spark: SparkSession, runner: Main.Runner,
    workload: String, calls: Seq[Workloads.Call], localTree: String,
    fileTree: String, seed: Long, tracesDir: java.nio.file.Path) {

  private val sc = spark.sparkContext
  private val rowEnc = Encoders.product[LedgerRow]
  private val passphrase = graft.cli.Export.Args().passphrase
  private def now = System.currentTimeMillis()
  private def secs(f: => Any): Double = {
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
  }

  /** The call's read path as the export builds it. */
  private def rows(c: Workloads.Call): Dataset[LedgerRow] =
    if (c.permissive)
      LcmBatchFiles.objectsPermissive(spark, fileTree)
        .flatMap(_.rows)(rowEnc)
        .filter(r => r.sequence >= c.lo && r.sequence <= c.hi)
    else LcmBatchFiles.ledgerRowsForRange(spark, fileTree, c.lo, c.hi)

  /** P4: the read path's rows materialised as Spark rows. */
  private def encode(c: Workloads.Call): Long =
    if (c.permissive)
      LcmBatchFiles.objectsPermissive(spark, fileTree).queryExecution.toRdd.count()
    else rows(c).queryExecution.toRdd.count()

  /** The command's public transform(s) over a read path, as `Export.run`
    * applies them. */
  private def frames(c: Workloads.Call, ds: Dataset[LedgerRow]): Seq[DataFrame] = {
    val src = ds.where(col("sequence").between(c.lo, c.hi))
    c.command match {
      case "export_ledgers" => Seq(StellarTransforms.historyLedgers(src))
      case "export_transactions" => Seq(StellarTransforms.historyTransactions(src))
      case "export_operations" => Seq(StellarTransforms.historyOperations(src))
      case "export_effects" => Seq(StellarTradesEffects.historyEffects(src))
      case "export_token_transfers" => Seq(TokenTransfers.fromLedgers(src, passphrase))
      case "export_contract_events" =>
        Seq(SorobanStateTables.contractEventsFromLedgers(src))
      case "export_ledger_entry_changes" => Seq(
        SorobanStateTables.contractDataFromLedgers(ds, passphrase),
        SorobanStateTables.contractCodeFromLedgers(ds),
        SorobanStateTables.configSettingsFromLedgers(ds),
        SorobanStateTables.ttlFromLedgers(ds))
      case other => sys.error(s"no transform for $other")
    }
  }

  /** P5: read path → transform(s) → `noop` sink; the decoded rows are
    * persisted across frames exactly when the export persists them. */
  private def transformOnce(c: Workloads.Call): Unit = {
    val ds = rows(c)
    val shared = c.command == "export_ledger_entry_changes"
    if (shared) ds.persist()
    frames(c, ds).foreach(_.write.format("noop").mode("overwrite").save())
    if (shared) ds.unpersist(blocking = true)
  }

  /** The objects the call's read path opens: its range's keys, or every
    * object for the permissive path (which lists the whole tree). */
  private def objects(c: Workloads.Call): Seq[String] =
    if (c.permissive) {
      val s = Files.walk(Paths.get(localTree))
      try {
        val b = Seq.newBuilder[String]
        s.filter(p => p.toString.endsWith(".xdr.zstd"))
          .forEach(p => b += "file://" + p.toString)
        b.result().sorted
      } finally s.close()
    } else (c.lo to c.hi).map(q => s"$fileTree/${LcmBatchFiles.objectKey(q)}")

  private def median(xs: Seq[Double]): Double = Main.quantile(xs, 0.5)

  /** The per-layer metrics, and the per-call split as readable lines. */
  def run(): (Seq[(String, Double, String)], Seq[String]) = {
    val runStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spans = new Spans(s"$workload-s$seed-${ProcessHandle.current().pid()}")
    val runSpan = spans.newId()
    val cores = sc.defaultParallelism

    // traced pass: counting FS under the tree, listener, spans
    val listener = new Listener(spans)
    sc.addSparkListener(listener)
    CountingFs.reset()
    val heap = new Main.HeapPeak
    val wlSpan = spans.newId()
    val wlStart = now
    val traced = calls.map(c => runner.run(c, CountingFs.uriOf(localTree),
      Some(spans), wlSpan))
    org.apache.spark.PerfbenchBus.drain(sc)
    val heapMb = heap.mb()
    val tot = listener.totals
    val jobs = listener.jobs.toArray(Array.empty[(Long, Long, Long)]).toSeq
    sc.removeSparkListener(listener)
    // an untraced pass after the traced one: the baseline for the sink
    // and the tracing overhead (it runs warmer, so the overhead it gives
    // is an upper bound)
    val plainWalls = calls.map(runner.run(_).wallS)

    // export wall not covered by any of its Spark jobs
    def gapS(s: Main.Sample): Double = {
      val iv = jobs.filter(_._1 == s.span)
        .map { case (_, a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var upTo = s.startMs
      iv.foreach { case (a, b) =>
        if (b > upTo) { covered += b - math.max(a, upTo); upTo = b } }
      (s.endMs - s.startMs - covered) / 1000.0
    }

    // prefixes: P1..P4 once per distinct read set, P5 per call; the cheap
    // object-level prefixes are repeated and their median kept
    val readSets = calls.map(c => (c.lo, c.hi, c.permissive)).distinct
    def timedSpan(name: String, reps: Int = 1)(f: => Any): Double = {
      val xs = (1 to reps).map { _ =>
        val s = now; val d = secs(f); spans.add(name, s, now, wlSpan); d }
      median(xs)
    }
    val layers = readSets.map { case key @ (lo, hi, _) =>
      val c = calls.find(c => (c.lo, c.hi, c.permissive) == key).get
      val paths = objects(c)
      val tag = s"[$lo,$hi]"
      val p1 = timedSpan(s"prefix.P1.read$tag", 3)(Prefix.run(spark, paths, 1))
      val p2 = timedSpan(s"prefix.P2.zstd$tag", 3)(Prefix.run(spark, paths, 2))
      var txs = 0L
      val p3 = timedSpan(s"prefix.P3.decode$tag", 3) {
        txs = Prefix.run(spark, paths, 3)._2 }
      val p4 = timedSpan(s"prefix.P4.encode$tag")(encode(c))
      key -> Traced.Layers(p1, p2, p3, p4, txs)
    }.toMap
    val splits = calls.indices.map { i =>
      val c = calls(i)
      val p5 = timedSpan(s"prefix.P5.transform.${c.command}[${c.lo},${c.hi}]")(
        transformOnce(c))
      val planS = frames(c, rows(c)).map { f =>
        val qe = f.queryExecution
        secs { qe.analyzed; qe.optimizedPlan; qe.executedPlan }
      }.sum
      Traced.Split(c, plainWalls(i), traced(i),
        layers((c.lo, c.hi, c.permissive)), p5, planS)
    }
    spans.record(wlSpan, s"workload.$workload", wlStart, now, runSpan)
    spans.record(runSpan, "run", runStart, now, 0L)
    spans.write(tracesDir.resolve(s"${spans.runId}.jsonl"))

    val n = calls.size.toDouble
    val ledgers = calls.map(_.ledgers).sum.toDouble
    val plainWall = plainWalls.sum
    val tracedWall = traced.map(_.wallS).sum
    val opened = traced.map(_.opened).sum.toDouble
    def sum(f: Traced.Split => Double) = splits.map(f).sum
    val decodeS = sum(_.decodeS)
    (Seq(
      ("sources.objects_opened", opened, "count"),
      ("sources.bytes_read", traced.map(_.bytesRead).sum.toDouble, "B"),
      ("sources.decode_amplification", opened / ledgers, "ratio"),
      ("sources.read_s", sum(_.readS), "s"),
      ("sources.zstd_s", sum(_.zstdS), "s"),
      ("codec.decode_s", decodeS, "s"),
      ("codec.tx_per_s", sum(_.layers.txs.toDouble) / decodeS, "tx/s"),
      ("model.encode_s", sum(_.encodeS), "s"),
      ("operators.transform_s", sum(_.transformS), "s"),
      ("operators.rows_out", traced.map(_.rowsOut).sum.toDouble, "count"),
      ("cli.sink_s", sum(_.sinkS), "s"),
      ("cli.readback_s", traced.map(_.readbackS).sum, "s"),
      ("cli.output_files", traced.map(_.files).sum.toDouble, "count"),
      ("cli.driver_gap_s", traced.map(gapS).sum, "s"),
      ("spark.plan_s", sum(_.planS), "s"),
      ("spark.jobs_per_export", jobs.size / n, "count"),
      ("spark.stages_per_export", tot.stages / n, "count"),
      ("spark.tasks_per_export", tot.tasks / n, "count"),
      ("spark.scheduler_delay_s", tot.schedDelayMs / 1000.0 / n, "s"),
      ("spark.task_run_s", tot.runMs / 1000.0, "s"),
      ("spark.task_cpu_s", tot.cpuNs / 1e9, "s"),
      ("spark.gc_s", tot.gcMs / 1000.0, "s"),
      ("spark.core_utilisation", tot.runMs / 1000.0 / (tracedWall * cores), "ratio"),
      ("spark.shuffle_write_bytes", tot.shuffleWrite.toDouble, "B"),
      ("spark.shuffle_read_bytes", tot.shuffleRead.toDouble, "B"),
      ("spark.spill_bytes", tot.spill.toDouble, "B"),
      ("jvm.heap_after_gc_peak_mb", heapMb, "MB"),
      ("trace.export_wall_s", tracedWall, "s"),
      ("trace.untraced_wall_s", plainWall, "s"),
      ("trace.overhead_s", tracedWall - plainWall, "s")), splits.map(_.line))
  }
}

object Traced {
  /** Prefix walls of one read set, and the transactions it decodes. */
  final case class Layers(p1: Double, p2: Double, p3: Double, p4: Double,
      txs: Long)

  /** One call's split. The layers add up to the untraced export wall:
    * read + zstd + decode + transform + sink. `transform` is P5 − P3: the
    * row encoding the command's plan keeps plus its operators (P5 − P4
    * goes negative for commands whose plans prune the row serializer
    * below the full row). `encode` (P4 − P3) is the full-row encode,
    * reported on its own. */
  final case class Split(call: Workloads.Call, wallS: Double,
      traced: Main.Sample, layers: Layers, p5: Double, planS: Double) {
    def readS: Double = layers.p1
    def zstdS: Double = layers.p2 - layers.p1
    def decodeS: Double = layers.p3 - layers.p2
    def encodeS: Double = layers.p4 - layers.p3
    def transformS: Double = p5 - layers.p3
    def sinkS: Double = wallS - p5
    def line: String =
      s"${call.command}[${call.lo},${call.hi}] wall=$wallS " +
        s"read=$readS zstd=$zstdS decode=$decodeS full_encode=$encodeS " +
        s"transform=$transformS sink=$sinkS plan=$planS " +
        s"rows_out=${traced.rowsOut} amplification=" +
        s"${traced.opened.toDouble / call.ledgers}"
  }
}
