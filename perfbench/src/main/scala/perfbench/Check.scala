package perfbench

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Expected output of each call, from the generator's laws, and the check
  * of an export's files against it.
  *
  * Row grain per transaction (both tx kinds carry exactly one operation):
  *   - transactions, operations: 1
  *   - effects: 2 (payment: credited + debited; invoke: the SAC transfer's
  *     contract debit + credit)
  *   - token_transfers: 2 (the fee event + one transfer)
  *   - contract_events: 1 per soroban tx (its diagnostic transfer event)
  *   - contract_data, contract_code, config_settings, ttl: 1 per soroban tx
  *     (RealXdrFixture plants one change of each family per tx)
  * plus one `ledgers` row per decodable ledger. */
object Check {

  val EntryResources: Seq[String] =
    Seq("contract_data", "contract_code", "config_settings", "ttl")

  /** Expected figures for one call: name → value. */
  def expect(call: Workloads.Call, tree: Gen.Tree): Map[String, Long] = {
    val ls = tree.decodable(call.lo, call.hi)
    val txs = ls.flatMap(l => l.soroban.zipWithIndex.map {
      case (s, t) => (l.seq, t.toLong, s) })
    val nTx = txs.size.toLong
    val nSoroban = txs.count(_._3).toLong
    val feeSum = txs.map { case (seq, t, s) =>
      if (s) Gen.sorobanFeeCharged(seq, t) else Gen.paymentFeeCharged(seq, t)
    }.sum
    call.command match {
      case "export_ledgers" => Map("rows" -> ls.size.toLong,
        "sum_sequence" -> ls.map(_.seq).sum)
      case "export_transactions" => Map("rows" -> nTx,
        "sum_fee_charged" -> feeSum,
        "sum_ledger_sequence" -> txs.map(_._1).sum) ++
        (if (call.permissive) Map("poisoned" -> tree.corrupt.size.toLong)
         else Map.empty)
      case "export_operations" => Map("rows" -> nTx)
      case "export_effects" => Map("rows" -> 2 * nTx)
      case "export_token_transfers" => Map("rows" -> 2 * nTx,
        "fee_events_amount_raw" -> feeSum)
      case "export_contract_events" => Map("rows" -> nSoroban)
      case "export_ledger_entry_changes" =>
        EntryResources.map(r => s"rows.$r" -> nSoroban).toMap
      case other => sys.error(s"no law for $other")
    }
  }

  /** Measured figures of an export's output at `out`. `stdout` is what
    * the export printed. */
  def measure(spark: SparkSession, call: Workloads.Call, out: String,
      stdout: String): Map[String, Long] = {
    // one aggregate job per output: row count plus the law's column sums
    def agg(df: org.apache.spark.sql.DataFrame,
        sums: (String, org.apache.spark.sql.Column)*): Map[String, Long] = {
      val r = df.agg(count(lit(1)), sums.map { case (_, c) =>
        coalesce(sum(c.cast("long")), lit(0L)) }: _*).head()
      (("rows" +: sums.map(_._1)).zipWithIndex.map { case (k, i) =>
        k -> r.getLong(i) }).toMap
    }
    call.command match {
      case "export_ledger_entry_changes" =>
        val fs = new HPath(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val names = fs.listStatus(new HPath(out)).map(_.getPath.getName)
        EntryResources.map { r =>
          val files = names.filter(_.endsWith(s"-$r.parquet"))
          s"rows.$r" -> (if (files.isEmpty) 0L
            else spark.read.parquet(files.map(f => s"$out/$f").toIndexedSeq: _*).count())
        }.toMap
      case "export_ledgers" =>
        agg(spark.read.parquet(out), "sum_sequence" -> col("sequence"))
      case "export_transactions" =>
        agg(spark.read.parquet(out), "sum_fee_charged" -> col("fee_charged"),
          "sum_ledger_sequence" -> col("ledger_sequence")) ++
          (if (call.permissive) Map("poisoned" -> poisonedReported(stdout))
           else Map.empty)
      case "export_token_transfers" =>
        agg(spark.read.parquet(out), "fee_events_amount_raw" ->
          when(col("event_topic") === "fee", col("amount_raw")))
      case _ => agg(spark.read.parquet(out))
    }
  }

  /** The `xdr_poisoned` count the permissive export printed (-1 if none). */
  def poisonedReported(stdout: String): Long =
    """"xdr_poisoned":(\d+),"errors_path"""".r.findFirstMatchIn(stdout)
      .map(_.group(1).toLong).getOrElse(-1L)

  /** The object keys listed in a permissive export's error dump. */
  def dumpedKeys(spark: SparkSession, out: String): Set[String] = {
    val dump = out.stripSuffix("/") + "_decode_errors"
    val fs = new HPath(dump).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new HPath(dump))) Set.empty
    else spark.read.json(dump).select("path").collect().map(_.getString(0))
      .map(p => p.split('/').takeRight(2).mkString("/")).toSet
  }

  /** Every mismatch between expectation and output, as readable lines,
    * and the rows the export wrote. */
  def verify(spark: SparkSession, call: Workloads.Call, tree: Gen.Tree,
      out: String, stdout: String): (Seq[String], Long) = {
    val want = expect(call, tree)
    val got = measure(spark, call, out, stdout)
    val diffs = want.toSeq.sortBy(_._1).collect {
      case (k, v) if !got.get(k).contains(v) =>
        s"${call.command} [${call.lo},${call.hi}] $k: want $v got ${got.get(k).orNull}"
    }
    val keyDiff =
      if (!call.permissive) Nil
      else {
        val planted = tree.corrupt.map(graft.sources.LcmBatchFiles.objectKey(_)).toSet
        val dumped = dumpedKeys(spark, out)
        if (dumped == planted) Nil
        else Seq(s"error dump lists ${dumped.toSeq.sorted} want ${planted.toSeq.sorted}")
      }
    (diffs ++ keyDiff,
      got.collect { case (k, v) if k == "rows" || k.startsWith("rows.") => v }.sum)
  }

  /** Bytes and regular files under an export's outputs (the output and,
    * for permissive runs, its error dump). */
  def footprint(fs: FileSystem, out: String): (Long, Long) = {
    val roots = Seq(new HPath(out), new HPath(out.stripSuffix("/") + "_decode_errors"))
      .filter(fs.exists)
    roots.foldLeft((0L, 0L)) { case ((b, n), r) =>
      val it = fs.listFiles(r, true)
      var bytes = b; var files = n
      while (it.hasNext) {
        val s = it.next()
        bytes += s.getLen
        if (!s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
          files += 1
      }
      (bytes, files)
    }
  }
}
