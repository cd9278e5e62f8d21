package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths}

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cli.Export
import graft.model.LedgerModel.LedgerRow
import graft.operators._
import graft.sources.LcmBatchFiles

/** One benchmark run in one fresh JVM: a `local[n]` session, a single
  * closed-loop client calling `Export.run(spark, Export.parse(args))`.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace 0|1
  *     --data <dir> --result <file>
  *
  * The tree for (workload, seed) must already exist under `<data>/trees`
  * (see [[Gen]]). Untraced runs time the workload; traced runs add the
  * per-layer split measured from outside the program. The result is one
  * JSON object written to `<file>`. */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L,
      seconds: Double = 10.0, trace: Boolean = false,
      data: String = ".bench_data", result: String = "")

  def parse(argv: List[String], o: Opts = Opts()): Opts = argv match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--result" :: v :: t => parse(t, o.copy(result = v))
    case other :: _ => sys.error(s"unknown argument: $other")
  }

  def treeDir(data: Path, tree: String, seed: Long): Path =
    data.resolve("trees").resolve(s"$tree-s$seed")

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap bytes allocated so far by all threads, ended ones included. */
  private def allocatedBytes(): Long = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean].getTotalThreadAllocatedBytes

  /** The most heap in use right after a garbage collection, from the
    * JVM's GC notifications: the memory the program still held when the
    * collector was done, not the heap the JVM happened to reserve. It
    * includes old-generation garbage that G1 has not yet reclaimed, so it
    * follows the collector's timing; the traced run reports it. */
  final class HeapPeak {
    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toSeq
    private val names = pools.map(_.getName).toSet
    private var peak = 0L
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          note(info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if names(k) => u.getUsed }.sum)
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

    private def note(used: Long): Unit = synchronized { peak = math.max(peak, used) }
    def reset(): Unit = synchronized { peak = 0L }

    /** The peak since [[reset]] in MB. A full collection at the end
      * (outside any timed wall) makes sure there is at least one. */
    def mb(): Double = {
      System.gc()
      note(pools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum)
      val bytes = synchronized { peak }
      bytes / (1024.0 * 1024.0)
    }
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val i = pos.toInt
      if (i + 1 >= s.size) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
    }
  }

  /** One export call as it ran. */
  final case class Sample(call: Workloads.Call, wallS: Double, cpuS: Double,
      bytes: Long, files: Long, problems: Seq[String], rowsOut: Long,
      startMs: Long = 0L, endMs: Long = 0L, span: Long = 0L,
      opened: Long = 0L, bytesRead: Long = 0L, readbackS: Double = 0.0,
      allocBytes: Long = 0L)

  /** Runs calls against one tree and checks every output. */
  final class Runner(spark: SparkSession, tree: Gen.Tree, outRoot: Path,
      fileTree: String) {
    private var n = 0
    val samples = ArrayBuffer.empty[Sample]
    private val fs = new HPath(outRoot.toUri).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    /** Run `call` on the tree at `treeUri`. With `spans` the export is a
      * span under `parent` and its Spark jobs carry the span id; the
      * sink's read-back is then also timed on its own. */
    def run(call: Workloads.Call, treeUri: String = fileTree,
        spans: Option[Spans] = None, parent: Long = 0L): Sample = {
      n += 1
      val out = outRoot.resolve(f"e$n%05d").toString
      val buf = new ByteArrayOutputStream()
      val args = call.argv(treeUri, out)
      val opened0 = CountingFs.objectsOpened
      val read0 = CountingFs.bytesRead.get()
      val spanId = spans.map(_.newId()).getOrElse(0L)
      val sc = spark.sparkContext
      if (spanId != 0L) sc.setLocalProperty(Listener.SpanKey, spanId.toString)
      val startMs = System.currentTimeMillis()
      val cpu0 = cpuNs()
      val alloc0 = allocatedBytes()
      val t0 = System.nanoTime()
      val err =
        try {
          Console.withOut(new PrintStream(buf, true)) {
            Export.run(spark, Export.parse(args))
          }
          None
        } catch { case e: Throwable => Some(s"${call.command} threw $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - cpu0) / 1e9
      val alloc = allocatedBytes() - alloc0
      val endMs = System.currentTimeMillis()
      sc.setLocalProperty(Listener.SpanKey, null)
      spans.foreach(_.record(spanId,
        s"export.${call.command}[${call.lo},${call.hi}]", startMs, endMs, parent))
      val opened = CountingFs.objectsOpened - opened0
      val read = CountingFs.bytesRead.get() - read0
      val checkT0 = System.nanoTime()
      val (problems, rowsOut) = err match {
        case Some(e) => (Seq(e), 0L)
        case None =>
          try Check.verify(spark, call, tree, out, buf.toString("UTF-8"))
          catch { case e: Throwable => (Seq(s"check failed: $e"), 0L) }
      }
      val (bytes, files) = Check.footprint(fs, out)
      val readback =
        if (spans.isEmpty || err.nonEmpty) 0.0
        else {
          val t1 = System.nanoTime()
          if (call.command == "export_ledger_entry_changes")
            spark.read.parquet(s"$out/*.parquet").count()
          else spark.read.parquet(out).count()
          (System.nanoTime() - t1) / 1e9
        }
      spark.catalog.clearCache()
      Seq(out, out + "_decode_errors").foreach(p => fs.delete(new HPath(p), true))
      val s = Sample(call, wall, cpu, bytes, files, problems, rowsOut, startMs, endMs,
        spanId, opened, read, readback, alloc)
      samples += s
      System.err.println(f"perfbench: ${call.command} [${call.lo},${call.hi}] " +
        f"wall $wall%.3f s cpu $cpu%.3f s check ${(System.nanoTime() - checkT0) / 1e9}%.3f s" +
        (if (problems.isEmpty) "" else " FAILED"))
      s
    }
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(argv.toList)
    val wl = Workloads(o.workload)
    val data = Paths.get(o.data).toAbsolutePath
    val dir = treeDir(data, wl.tree, o.seed)
    require(Files.exists(dir.resolve("COMPLETE")), s"no generated tree at $dir")
    val tree = Gen.plan(Workloads.treeSpec(wl.tree, o.seed), o.seed)
    val localTree = dir.resolve("tree").toString
    val fileTree = "file://" + localTree

    val spark = Export.session()
    spark.sparkContext.setLogLevel("WARN")
    val sessionAt = System.nanoTime()
    spark.sparkContext.hadoopConfiguration
      .set(CountingFs.ConfKey, classOf[CountingFs].getName)
    val outRoot = data.resolve("out")
      .resolve(s"${o.workload}-s${o.seed}-${ProcessHandle.current().pid()}")
    val runner = new Runner(spark, tree, outRoot, fileTree)
    val calls = wl.pass(tree)

    // set-up: session plus the workload's first export, cold
    runner.run(calls.head)
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"perfbench: session ready after " +
      f"${(sessionAt - t0) / 1e9}%.3f s, set-up $setupS%.3f s")
    // warm-up: untimed full passes, at least `warmCalls` calls
    var warmed = 0
    while (warmed < wl.warmCalls) { calls.foreach(runner.run(_)); warmed += calls.size }

    val (metrics, detail) =
      if (!o.trace) (timed(runner, calls, wl, o.seconds, setupS), Nil)
      else new Traced(spark, runner, wl.name, calls, localTree, fileTree,
        o.seed, data.resolve("traces")).run()

    val all = runner.samples
    val failed = all.count(_.problems.nonEmpty)
    val problems = all.flatMap(_.problems).distinct.take(20).toSeq
    val json = new StringBuilder
    json ++= s"""{"correct":${failed == 0},"attempted":${all.size},"failed":$failed,"metrics":{"""
    json ++= metrics.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    def strs(xs: Seq[String]) = xs.map(x => "\"" + esc(x) + "\"").mkString(",")
    json ++= s"""},"problems":[${strs(problems)}],"detail":[${strs(detail)}]}"""
    Files.writeString(Paths.get(o.result), json.result())
    Gen.deleteTree(outRoot)
    spark.stop()
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", " ")

  /** The untraced timed region: passes until `seconds` are up and at
    * least `minCalls` calls were timed. The export quantiles are taken over
    * the first `minCalls` timed calls, so their sample count is fixed. */
  def timed(runner: Runner, calls: Seq[Workloads.Call], wl: Workloads.Workload,
      seconds: Double, setupS: Double): Seq[(String, Double, String)] = {
    val start = System.nanoTime()
    val timedSamples = ArrayBuffer.empty[Sample]
    def elapsed = (System.nanoTime() - start) / 1e9
    while (timedSamples.isEmpty || elapsed < seconds ||
        timedSamples.size < wl.minCalls)
      calls.foreach(c => timedSamples += runner.run(c))
    val walls = timedSamples.map(_.wallS).toSeq
    val quantileWalls = walls.take(wl.minCalls)
    val ledgers = timedSamples.map(_.call.ledgers).sum.toDouble
    Seq(
      ("setup_s", setupS, "s"),
      ("ledgers_per_s", ledgers / walls.sum, "ledgers/s"),
      ("export_p50_s", quantile(quantileWalls, 0.5), "s"),
      ("export_p90_s", quantile(quantileWalls, 0.9), "s"),
      ("cpu_s_per_kledger", timedSamples.map(_.cpuS).sum / (ledgers / 1000.0), "s"),
      ("output_bytes_per_ledger", timedSamples.map(_.bytes).sum / ledgers, "B"),
      ("alloc_mb_per_kledger",
        timedSamples.map(_.allocBytes).sum / (1024.0 * 1024.0) / (ledgers / 1000.0), "MB"))
  }
}
