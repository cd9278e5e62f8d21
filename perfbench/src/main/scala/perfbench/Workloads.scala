package perfbench

/** The workloads: which trees they read and which `Export.run` calls one
  * pass of each makes. Sizes are set for a 4-core machine; `backfill` and
  * `permissive_slice` are the ones `BENCHMARK.json` names. */
object Workloads {

  /** One `export_*` invocation over `[lo, hi]` of a tree. */
  final case class Call(command: String, lo: Long, hi: Long,
      extra: Seq[String] = Nil) {
    def ledgers: Long = hi - lo + 1
    def permissive: Boolean = extra.contains("--permissive")
    def argv(tree: String, out: String): Array[String] =
      (Seq(command, "--start", lo.toString, "--end", hi.toString,
        "--batch-input", tree, "--output", out, "--format", "parquet") ++
        extra).toArray
  }

  /** A workload reads one tree; `pass` is one full round of its calls.
    * The warm-up repeats passes until at least `warmCalls` calls ran, and
    * the timed region repeats passes until both `--seconds` have gone by
    * and at least `minCalls` calls were timed. */
  final case class Workload(name: String, tree: String, warmCalls: Int,
      minCalls: Int, pass: Gen.Tree => Seq[Call])

  val Slice = 64

  /** Tree shapes. `start` is drawn from the seed and checkpoint-aligned.
    * The dense and poisoned trees carry 40-80 txs per ledger (mean 60, the
    * density of the export probe the workloads were sized on). Their 3:1
    * soroban:classic mix is synthetic: it keeps both tx kinds on every
    * path, and it is kept for the layer share it gives (read + zstd + XDR
    * decode about 40 % of a `backfill` pass). */
  def treeSpec(name: String, seed: Long): Gen.Spec = {
    val start = Slice.toLong * (1000L + Math.floorMod(seed * 7919L, 4000L))
    name match {
      case "dense" => Gen.Spec(start, 3 * Slice, 40, 80, 75)
      // sparse (synthetic): many checkpoint slices, 0-2 txs per ledger, so
      // that per-export fixed cost is the whole wall
      case "sparse" => Gen.Spec(start, 16 * Slice, 0, 2, 50)
      // poisoned: 2 slices, 3 corrupt objects planted in one of them
      case "poisoned" =>
        val lo = start + Slice * permissiveSlice(seed)
        Gen.Spec(start, PoisonedSlices * Slice, 40, 80, 75, corrupt = 3,
          corruptWithin = (lo, lo + Slice - 1))
      case other => sys.error(s"unknown tree: $other")
    }
  }

  val PoisonedSlices = 2

  def permissiveSlice(seed: Long): Int =
    Math.floorMod(seed * 31L + 7L, PoisonedSlices.toLong).toInt

  val BackfillCommands: Seq[String] = Seq("export_ledgers",
    "export_transactions", "export_token_transfers")

  private def slices(t: Gen.Tree): Seq[(Long, Long)] =
    (t.spec.start to t.spec.end by Slice.toLong).map(s => (s, s + Slice - 1))

  val all: Seq[Workload] = Seq(
    Workload("backfill", "dense", 3, 3, t =>
      BackfillCommands.map(Call(_, t.spec.start, t.spec.end))),
    Workload("batch64", "sparse", 16, 32, t =>
      slices(t).map { case (lo, hi) => Call("export_transactions", lo, hi) }),
    Workload("entry_changes", "dense", 1, 1, t =>
      Seq(Call("export_ledger_entry_changes", t.spec.start, t.spec.end,
        Seq("--batch-size", Slice.toString)))),
    // one call is one pass; the JIT settles after about four calls
    Workload("permissive_slice", "poisoned", 4, 3, t => {
      val (lo, hi) = t.spec.corruptWithin
      Seq(Call("export_transactions", lo, hi, Seq("--permissive")))
    }))

  def apply(name: String): Workload = all.find(_.name == name)
    .getOrElse(sys.error(s"unknown workload: $name (one of " +
      all.map(_.name).mkString(", ") + ")"))
}
