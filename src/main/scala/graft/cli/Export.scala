package graft.cli

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.operators._
import graft.sources.StellarFixture

/** Thin command layer mirroring the reference CLI (`cmd/export_*.go`): same
  * command names and flag vocabulary, Spark underneath.
  *
  *   runMain graft.cli.Export export_transactions \
  *     --start 1000 --end 1099 --output /tmp/out \
  *     [--format ndjson|parquet] [--limit N] [--extra-fields k=v,k2=v2]
  *     [--input <parquet dir of decoded LedgerRow>]  (default: fixture)
  *     [--wire-input <dir of .lcmb wire batch files>]  (runs the command
  *       off the graft-lcm DSv2 source — ledgers, transactions,
  *       operations, assets, ledger_entry_changes, trades, effects,
  *       contract_events, op_changes, token_transfers; `--end 0` runs
  *       the wire export UNBOUNDED off the MICRO_BATCH arm)
  *
  * Commands: export_ledgers, export_transactions, export_operations,
  * export_effects, export_trades, export_assets, export_token_transfers,
  * export_ledger_transaction, export_contract_events,
  * export_ledger_entry_changes (--export-type all (default) or a comma-list
  * of account,signer,offer,trustline,claimable_balance,pool,contract_data,
  * contract_code,config_setting,ttl; --batch-size N; --table-dir for the
  * state-entry types), get_ledger_range_from_times (--start-time/--end-time
  * ISO), version.
  * `upload_to_gcs --gcs-bucket <uri|bucket> --path <local>` is the
  * reference's upload-verify-delete contract over the Hadoop FileSystem
  * for the bucket URI, and every export honors the
  * `--cloud-provider`/`--cloud-storage-bucket` MaybeUpload hook
  * (gs://… works wherever the connector is on the classpath; --output
  * also takes any Hadoop filesystem URI directly).
  *
  * The reference accumulates the whole range in RAM then loops row-by-row
  * (`input/transactions.go:31-70`); here every command is one lazy plan:
  * scan → explode/project → sink, partition-parallel, spillable. */
object Export {

  case class Args(
      command: String = "",
      // end defaults to -1 = "not given": a bounded export with no --end
      // fails fast instead of silently entering the unbounded streaming
      // arm; ONLY an explicit `--end 0` means continuous, and only for
      // export_ledger_entry_changes (the reference's endNum=0 semantics,
      // `cmd/export_ledger_entry_changes.go:26-28,72-89` — every other
      // command there requires a bounded range)
      start: Long = 0, end: Long = -1,
      output: String = "", input: Option[String] = None,
      wireInput: Option[String] = None,
      xdrInput: Option[String] = None,
      batchInput: Option[String] = None,
      permissive: Boolean = false,
      format: String = "ndjson",
      limit: Long = -1,
      extraFields: Map[String, String] = Map.empty,
      exportType: String = "all",
      batchSize: Long = 64,
      tableDir: Option[String] = None,
      startTime: String = "", endTime: String = "",
      strict: Boolean = false,
      bucket: String = "", path: String = "",
      cloudProvider: String = "",
      testnet: Boolean = false, futurenet: Boolean = false) {

    /** The reference's `GetEnvironmentDetails` precedence
      * (`internal/utils/main.go:866-895`): testnet wins over futurenet,
      * default mainnet. */
    def network: String =
      if (testnet) "testnet" else if (futurenet) "futurenet" else "pubnet"
    def networkId: Array[Byte] = graft.codec.Network.id(network)
    def passphrase: String = graft.codec.Network.passphrase(network)
  }

  /** Every subcommand `run` dispatches. CliExportSpec audits this set
    * against the reference's cobra `Use:` strings (the `cmd` package) so a
    * renamed or newly-spelled reference command can't drift past us —
    * `export_token_transfer` (singular, the reference's registered Use)
    * normalizes to the plural in [[parse]]. The audit direction is
    * reference ⊆ KnownCommands; two entries are REPO-SPECIFIC extensions
    * with no reference cobra registration: `export_op_changes` (the
    * per-operation change split) and `upload_to_gcs` (the reference has
    * the `cmd/upload_to_gcs.go` helper but never registers it as a
    * subcommand — this repo exposes it directly). */
  val KnownCommands: Set[String] = Set(
    "export_ledgers", "export_transactions", "export_operations",
    "export_effects", "export_trades", "export_assets",
    "export_token_transfers", "export_ledger_transaction",
    "export_contract_events", "export_ledger_entry_changes",
    "export_op_changes", "get_ledger_range_from_times", "version",
    "upload_to_gcs")

  def parse(argv: Array[String]): Args = {
    def loop(a: Args, rest: List[String]): Args = rest match {
      case Nil => a
      case "--start" :: v :: t => loop(a.copy(start = v.toLong), t)
      case "--end" :: v :: t => loop(a.copy(end = v.toLong), t)
      case ("--output" | "-o") :: v :: t => loop(a.copy(output = v), t)
      case "--input" :: v :: t => loop(a.copy(input = Some(v)), t)
      case "--wire-input" :: v :: t => loop(a.copy(wireInput = Some(v)), t)
      case "--xdr-input" :: v :: t => loop(a.copy(xdrInput = Some(v)), t)
      case "--batch-input" :: v :: t => loop(a.copy(batchInput = Some(v)), t)
      case "--permissive" :: t => loop(a.copy(permissive = true), t)
      case "--format" :: v :: t => loop(a.copy(format = v), t)
      case ("--limit" | "-l") :: v :: t => loop(a.copy(limit = v.toLong), t)
      case "--export-type" :: v :: t => loop(a.copy(exportType = v), t)
      case ("--batch-size" | "-b") :: v :: t => loop(a.copy(batchSize = v.toLong), t)
      case "--table-dir" :: v :: t => loop(a.copy(tableDir = Some(v)), t)
      case "--start-time" :: v :: t => loop(a.copy(startTime = v), t)
      case "--end-time" :: v :: t => loop(a.copy(endTime = v), t)
      case ("--gcs-bucket" | "--bucket" | "--cloud-storage-bucket") :: v :: t =>
        loop(a.copy(bucket = v), t)
      case "--path" :: v :: t => loop(a.copy(path = v), t)
      case "--cloud-provider" :: v :: t => loop(a.copy(cloudProvider = v), t)
      case "--strict-export" :: t => loop(a.copy(strict = true), t)
      // network selection (`AddCommonFlags`, `internal/utils/main.go:234-235`):
      // the passphrase domain-separates tx hashes and SAC contract ids
      case "--testnet" :: t => loop(a.copy(testnet = true), t)
      case "--futurenet" :: t => loop(a.copy(futurenet = true), t)
      case "--extra-fields" :: v :: t =>
        loop(a.copy(extraFields = v.split(',').filter(_.contains("="))
          .map { kv => val Array(k, x) = kv.split("=", 2); k -> x }.toMap), t)
      // the reference registers the SINGULAR spelling as the command name
      // (`cmd/export_token_transfers.go:14` — `Use: "export_token_transfer"`);
      // accept both so a pasted reference invocation runs unchanged
      case "export_token_transfer" :: t if a.command.isEmpty =>
        loop(a.copy(command = "export_token_transfers"), t)
      case cmd :: t if a.command.isEmpty => loop(a.copy(command = cmd), t)
      case other :: _ => sys.error(s"unknown flag: $other")
    }
    loop(Args(), argv.toList)
  }

  def session(): SparkSession = SparkSession.builder()
    .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
    .appName("graft-export")
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** K1 extra fields: constant columns appended to every record
    * (`cmd/command_utils.go:69-71`). */
  private def withExtras(df: DataFrame, extras: Map[String, String]): DataFrame =
    extras.foldLeft(df) { case (d, (k, v)) => d.withColumn(k, lit(v)) }

  /** K1/K2 sinks + K5 stats line + the MaybeUpload hook. */
  private def sink(df0: DataFrame, a: Args): Unit = {
    val limited = if (a.limit >= 0) df0.limit(a.limit.toInt) else df0
    val df = withExtras(limited, a.extraFields)
    a.format match {
      case "ndjson" => df.write.mode("overwrite").json(a.output)
      case "parquet" => df.write.mode("overwrite").parquet(a.output)
      case other => sys.error(s"unknown format: $other")
    }
    val n = df.sparkSession.read.format(a.format match {
      case "ndjson" => "json"; case f => f
    }).load(a.output).count()
    // PrintTransformStats parity (`cmd/command_utils.go:90-103`)
    println(s"""{"attempted":$n,"failed":0,"successful":$n}""")
    maybeUpload(df.sparkSession, a, a.output)
  }

  /** K3 — `MaybeUpload` (`cmd/command_utils.go:123-145`): no provider ⇒
    * skip silently; a provider with no bucket ⇒ fatal; otherwise
    * upload-verify-delete the output. */
  private def maybeUpload(spark: SparkSession, a: Args, path: String): Unit =
    if (a.cloudProvider.nonEmpty) {
      require(a.bucket.nonEmpty, "No bucket specified")
      uploadVerifyDelete(spark, a.cloudProvider, a.bucket, path)
    }

  /** K3 — the reference's upload contract (`cmd/upload_to_gcs.go:25-74`):
    * copy the local file (or export directory) to `<bucket>/<path>` with
    * the LOCAL PATH AS THE OBJECT KEY (the reference passes `path`
    * verbatim to `Object(path)`), re-read the uploaded object's
    * attributes to verify it exists and carries every byte, and only then
    * delete the local copy (`deleteLocalFiles` = RemoveAll). The cloud
    * client is the Hadoop `FileSystem` for the bucket URI — `gs://…`
    * works wherever the GCS connector is on the classpath, `s3a://…`/
    * `file:…` likewise, so the sandboxed spec drives the identical code
    * path against `file:` and a production run just changes the URI.
    * Returns the verified byte count. */
  def uploadVerifyDelete(spark: SparkSession, provider: String,
      bucket: String, path: String): Long = {
    import org.apache.hadoop.fs.{FileUtil, Path => HPath}
    // "gcp" with a bare bucket name renders the reference's gs:// location
    val bucketUri =
      if (bucket.contains(":")) bucket
      else if (provider == "gcp") s"gs://$bucket"
      else bucket
    val conf = spark.sessionState.newHadoopConf()
    val src = new HPath(new java.io.File(path).getAbsoluteFile.toURI)
    val srcFs = src.getFileSystem(conf)
    require(srcFs.exists(src), s"failed to open file $path")
    val destRoot = new HPath(bucketUri)
    val destFs = destRoot.getFileSystem(conf)
    val dest = new HPath(destRoot,
      path.stripPrefix("/").stripSuffix("/"))
    val written = srcFs.getContentSummary(src).getLength
    println(s"Uploading $path to $bucketUri/$path")
    if (!FileUtil.copy(srcFs, src, destFs, dest,
        /* deleteSource = */ false, /* overwrite = */ true, conf))
      sys.error(s"unable to copy $path to $dest")
    // the reference's possibly-redundant readback: the object must exist
    // and be readable after the writer closes; byte-count equality is the
    // strongest attribute both sides expose
    val attrs = destFs.getContentSummary(dest)
    require(attrs.getLength == written,
      s"uploaded file does not exist or is short: " +
        s"${attrs.getLength} of $written bytes at $dest")
    println(s"Successfully uploaded $written bytes to $bucketUri/$path")
    srcFs.delete(src, true) // deleteLocalFiles
    written
  }

  /** Where a permissive export dumps its poisoned inputs. */
  private def errorsPath(a: Args): String =
    a.output.stripSuffix("/") + "_decode_errors"

  /** The export's ledgers. A Dataset the source persists is added to
    * `cached`, for `run` to release once the sink has written. */
  private def ledgerSource(spark: SparkSession, a: Args,
      cached: ListBuffer[Dataset[_]]) = {
    import spark.implicits._
    // --batch-input <datastore tree>: the reference's REAL backfill
    // substrate — zstd LedgerCloseMetaBatch objects (1 ledger/file), the
    // object-key law naming the range's objects so nothing is listed
    if (a.batchInput.isDefined && a.permissive) {
      // poison OBJECTS are reported, good ledgers flow on: an error-only
      // pass over the range's objects feeds the counts and the dump, then
      // the export reads the same range skipping the objects that throw
      val report = graft.sources.LcmBatchFiles.decodeErrorsForRange(
        spark, a.batchInput.get, a.start, a.end, a.networkId)
      val nBad = report.errors.size
      if (nBad > 0) {
        val errPath = errorsPath(a)
        report.errors.toDF("path", "error").select(col("error"), col("path"))
          .coalesce(1).write.mode("overwrite").json(errPath)
        println(s"""{"xdr_poisoned":$nBad,"errors_path":"$errPath"}""")
      }
      printDecodeStats(report.objects, report.objects - nBad, nBad)
      graft.sources.LcmBatchFiles.ledgerRowsForRange(spark, a.batchInput.get,
        a.start, a.end, a.networkId, permissive = true)
    } else if (a.batchInput.isDefined)
      graft.sources.LcmBatchFiles.ledgerRowsForRange(
        spark, a.batchInput.get, a.start, a.end, a.networkId)
    else (a.xdrInput, a.input) match {
      // --xdr-input <file/dir of frame NDJSON>: REAL network XDR — one row
      // per ledger with base64 `ledger_header` + `transactions` array of
      // (tx_envelope, tx_result[, tx_meta, tx_fee_meta]); decodes in the
      // executors (RealXdrSource) and feeds the same model-path transforms,
      // so every export command replays genuine archive bytes
      // --permissive: poison frames become REPORTED error rows — counted
      // by an observe() metric riding the export query, dumped beside the
      // output, surfaced in the stats line — never silently dropped
      case (Some(path), _) if a.permissive =>
        val res = graft.operators.RealXdrSource
          .ledgerRowsPermissive(spark.read.json(path), a.networkId).persist()
        cached += res
        val errs = res.filter(r => r.error.isDefined)
        val nBad = errs.count()
        if (nBad > 0) {
          val errPath = errorsPath(a)
          errs.toDF().select(col("error"), col("ledger_header"))
            .write.mode("overwrite").json(errPath)
          println(s"""{"xdr_poisoned":$nBad,"errors_path":"$errPath"}""")
        }
        graft.operators.Stats.observedDecode(res.toDF())
          .as[graft.operators.RealXdrSource.DecodeResult]
          .flatMap(_.row)
      case (Some(path), _) =>
        graft.operators.RealXdrSource.ledgerRows(spark.read.json(path),
          a.networkId)
      case (None, Some(path)) =>
        spark.read.parquet(path).as[graft.model.LedgerModel.LedgerRow]
      case (None, None) => StellarFixture.ledgers(spark, a.start, a.end)
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, a)
    spark.stop()
  }

  /** `--end 0` ⇒ UNBOUNDED export — the reference's continuous mode
    * (`cmd/export_ledger_entry_changes.go:72-89`: endNum 0 becomes
    * MaxInt32 and the change stream BLOCKS on new ledgers). Here the same
    * contract is the MICRO_BATCH_READ arm of the graft-lcm source: new
    * `.lcmb` batch files landing in the watched directory become
    * micro-batches, each transformed by the SAME map-only plan as the
    * bounded command (so bounded and unbounded runs agree row-for-row)
    * and appended to the sink partitioned by `batch_id =
    * floor(sequence / batchSize)` — the reference's every-batchSize-
    * ledgers file grouping (`changes.go:85-160`), expressed as a
    * partition column so each batch lands in its own directory.
    *
    * Blocks in `awaitTermination` like the reference; the
    * `graft.stream.once` system property / SPARK_GRAFT_STREAM_ONCE env
    * (test hook) drains what's available and stops, printing the usual
    * stats line. */
  private def streamWire(spark: SparkSession, a: Args): Unit = {
    val lcm = spark.readStream.format("graft-lcm").load(a.wireInput.get)
      .where(col("sequence") >= a.start)
    val df0 = a.command match {
      case "export_ledgers" =>
        StellarTransforms.historyLedgersFromLcm(lcm)
      case "export_transactions" =>
        StellarTransforms.historyTransactionsFromLcm(lcm)
      case "export_operations" =>
        StellarTransforms.historyOperationsFromLcm(lcm)
      case "export_ledger_entry_changes" =>
        StellarTransforms.ledgerChangesFromLcm(lcm)
      case other => sys.error(
        "unbounded --wire-input (--end 0) supports export_ledgers/" +
          s"transactions/operations/ledger_entry_changes, not $other")
    }
    val seqCol =
      if (df0.columns.contains("ledger_sequence")) "ledger_sequence"
      else "sequence"
    val df = withExtras(df0, a.extraFields)
      .withColumn("batch_id", floor(col(seqCol) / a.batchSize))
    val fmt = a.format match { case "ndjson" => "json"; case f => f }
    val q = df.writeStream.format(fmt)
      .option("checkpointLocation", a.output.stripSuffix("/") + "_ckpt")
      .option("path", a.output)
      .partitionBy("batch_id")
      .start()
    if (sys.props.contains("graft.stream.once") ||
        sys.env.contains("SPARK_GRAFT_STREAM_ONCE")) {
      q.processAllAvailable()
      q.stop()
      val n = spark.read.format(fmt).load(a.output).count()
      println(s"""{"attempted":$n,"failed":0,"successful":$n}""")
    } else q.awaitTermination()
  }

  /** Command dispatch, separated from `main` so tests can drive commands on
    * a shared session without `spark.stop()` tearing it down. */
  def run(spark: SparkSession, a: Args): Unit = {
    import spark.implicits._

    // permissive-decode observability: print the observe() counters that
    // ride the export query (frames/decoded/poisoned) once the sink runs.
    // Only --xdr-input observes them; --batch-input prints the counts of
    // its error pass itself
    val unlisten: () => Unit =
      if (a.permissive)
        graft.operators.Stats.listen(spark,
            graft.operators.Stats.DecodeMetricName) { m =>
          printDecodeStats(m.getOrElse("frames", 0L),
            m.getOrElse("decoded", 0L), m.getOrElse("poisoned", 0L))
        }
      else () => ()
    val cached = ListBuffer.empty[Dataset[_]]
    try runInner(spark, a, cached)
    finally { unlisten(); cached.foreach(_.unpersist()) }
  }

  private def printDecodeStats(frames: Long, decoded: Long,
      poisoned: Long): Unit =
    println(s"""{"xdr_frames":$frames,"xdr_decoded":$decoded,""" +
      s""""xdr_poisoned":$poisoned}""")

  private def runInner(spark: SparkSession, a: Args,
      cached: ListBuffer[Dataset[_]]): Unit = {
    import spark.implicits._

    // fail fast on a missing --end for every bounded export command; the
    // one continuous mode is export_ledger_entry_changes with an EXPLICIT
    // --end 0 (handled in the wire branch below)
    if (a.command.startsWith("export_") && a.end < 0L) sys.error(
      s"${a.command} requires --end (use --end 0 on " +
        "export_ledger_entry_changes --wire-input for the unbounded " +
        "streaming mode)")

    // --wire-input <dir of .lcmb batch files>: run the command directly
    // off the wire format through the DSv2 source — the reference's real
    // substrate (its commands read LedgerCloseMeta from the datastore,
    // `internal/input/transactions.go:23-71`). The sequence-range filter
    // is consumed by the scan's file pruning.
    if (a.wireInput.isDefined) {
      if (a.end == 0L) {
        if (a.command != "export_ledger_entry_changes") sys.error(
          s"--end 0 (continuous/unbounded) only applies to " +
            s"export_ledger_entry_changes, not ${a.command}; pass a bounded --end")
        streamWire(spark, a); return
      }
      val lcm = spark.read.format("graft-lcm").load(a.wireInput.get)
        .where(col("sequence").between(a.start, a.end))
      a.command match {
        case "export_ledgers" =>
          sink(StellarTransforms.historyLedgersFromLcm(lcm), a)
        case "export_transactions" =>
          sink(StellarTransforms.historyTransactionsFromLcm(lcm), a)
        case "export_operations" =>
          sink(StellarTransforms.historyOperationsFromLcm(lcm), a)
        case "export_assets" =>
          sink(StellarTransforms.historyAssetsFromLcm(lcm), a)
        case "export_ledger_entry_changes" =>
          sink(StellarTransforms.ledgerChangesFromLcm(lcm), a)
        case "export_trades" =>
          sink(StellarTransforms.historyTradesFromLcm(lcm), a)
        case "export_effects" =>
          sink(StellarTransforms.historyEffectsFromLcm(lcm), a)
        case "export_contract_events" =>
          sink(StellarTransforms.contractEventsFromLcm(lcm), a)
        case "export_op_changes" =>
          sink(StellarTransforms.opChangeDetailsFromLcm(lcm), a)
        case "export_token_transfers" =>
          sink(StellarTransforms.tokenTransfersFromLcm(lcm), a)
        case other => sys.error(
          s"--wire-input supports export_ledgers/transactions/operations/" +
            s"assets/ledger_entry_changes/trades/effects/contract_events/" +
            s"op_changes/token_transfers, not $other")
      }
      return
    }

    // the bounded commands' input: the source's ledgers in [start, end]
    def rangeLedgers = ledgerSource(spark, a, cached)
      .where(col("sequence").between(a.start, a.end))

    a.command match {
      case "export_ledgers" =>
        sink(StellarTransforms.historyLedgers(rangeLedgers), a)

      case "export_transactions" =>
        sink(StellarTransforms.historyTransactions(rangeLedgers), a)

      case "export_operations" =>
        sink(StellarTransforms.historyOperations(rangeLedgers), a)

      case "export_effects" =>
        sink(StellarTradesEffects.historyEffects(rangeLedgers), a)

      case "export_trades" =>
        sink(StellarTradesEffects.historyTrades(rangeLedgers), a)

      case "export_token_transfers" =>
        sink(TokenTransfers.fromLedgers(rangeLedgers, a.passphrase), a)

      case "export_assets" =>
        sink(StellarTransforms.historyAssets(rangeLedgers), a)

      case "export_ledger_transaction" =>
        sink(StellarTransforms.ledgerTransactions(rangeLedgers.toDF()), a)

      case "export_contract_events" =>
        val src = rangeLedgers
        // real-XDR inputs carry the FULL diagnostic grain (tx meta v3
        // SorobanMeta → TxModel.diag_events); the fixture model carries
        // op-level SAC events only — each substrate gets its renderer
        if (a.batchInput.isDefined || a.xdrInput.isDefined)
          sink(graft.operators.SorobanStateTables
            .contractEventsFromLedgers(src), a)
        else sink(StellarTransforms.contractEvents(src.toDF()), a)

      case "version" =>
        println(s"graft 0.4.0 (spark ${spark.version})")

      case "upload_to_gcs" =>
        // standalone upload-verify-delete (`cmd/upload_to_gcs.go`):
        // --gcs-bucket (any Hadoop FS URI or a bare gs bucket name) and
        // --path <local file or directory>
        require(a.path.nonEmpty, "upload_to_gcs requires --path")
        require(a.bucket.nonEmpty, "No bucket specified")
        uploadVerifyDelete(spark,
          if (a.cloudProvider.nonEmpty) a.cloudProvider else "gcp",
          a.bucket, a.path)

      case "export_ledger_entry_changes" =>
        exportEntryChanges(spark, a, cached)

      case "get_ledger_range_from_times" =>
        // SURVEY §3.3: once ledgers are a table this is a min/max scan, not
        // an archive binary search. With --input the scan covers the table's
        // own extent; the generated fallback honors --start/--end and only
        // defaults to a 5000-ledger window when no bounds were given.
        val src = a.input match {
          case Some(_) => ledgerSource(spark, a, cached)
          case None => ledgerSource(spark,
            // anchor the default window at --start so a bare high start
            // still yields a non-empty generated range
            a.copy(end = if (a.end > 0) a.end else a.start + 5000L), cached)
        }
        val ledgers = StellarTransforms.historyLedgers(src)
          .withColumnRenamed("sequence", "ledger_sequence")
        HistoryOps.ledgerRangeForTimes(ledgers,
            to_timestamp(lit(a.startTime)), to_timestamp(lit(a.endTime)))
          .collect().headOption match {
          case Some(r) => println(s"""{"start":${r.get(1)},"end":${r.get(2)}}""")
          // empty window: keep the old global-agg contract (nulls, not a crash)
          case None => println("""{"start":null,"end":null}""")
        }

      case "" | "help" =>
        println("commands: export_ledgers export_transactions export_operations " +
          "export_effects export_trades export_assets export_token_transfers " +
          "export_ledger_transaction export_contract_events " +
          "export_ledger_entry_changes get_ledger_range_from_times version " +
          "(--output accepts any Hadoop FS URI — the upload_to_gcs analog; " +
          "--testnet/--futurenet select the network passphrase that " +
          "domain-separates tx hashes and SAC contract ids)")

      case other => sys.error(s"unknown command: $other")
    }
  }

  /** The ten `export_ledger_entry_changes` entry types, flag name →
    * (output resource name, batching column) — resource names are the
    * reference's `transformedOutputs` keys
    * (`cmd/export_ledger_entry_changes.go:102-113`). */
  val EntryTypes: Seq[(String, String, String)] = Seq(
    ("account", "accounts", "ledger_sequence"),
    ("signer", "signers", "ledger_sequence"),
    ("offer", "offers", "ledger_sequence"),
    ("trustline", "trustlines", "ledger_sequence"),
    ("claimable_balance", "claimable_balances", "ledger_sequence"),
    ("pool", "liquidity_pools", "ledger_sequence"),
    ("contract_data", "contract_data", "ledger_sequence"),
    ("contract_code", "contract_code", "ledger_sequence"),
    ("config_setting", "config_settings", "last_modified_ledger"),
    ("ttl", "ttl", "last_modified_ledger"))

  /** The 10-way per-batch fan-out of `cmd/export_ledger_entry_changes.go:
    * 95-270`: every `--batch-size` ledgers produce one file per entry type,
    * named `{batchStart}-{batchEnd}-{resource}.txt` (`exportFilename`,
    * `command_utils.go:105-107`). `--export-type` narrows to a comma-list;
    * unset ⇒ all ten, the reference's "no flags set ⇒ export everything"
    * default. Account/signer/offer/trustline project the change stream;
    * the six state-entry types project the decoded state tables under
    * `--table-dir` (or SPARK_GRAFT_SF_DIR).
    *
    * Spark shape: the reference loops batches sequentially on one thread;
    * here each resource is ONE distributed job — the batch id is a column,
    * `repartition(__batch)` + `partitionBy(__batch)` writes every batch
    * file concurrently, and a driver rename pass stamps the reference
    * filenames (FS metadata only, no data movement). At 100 TB the batch
    * count, not the driver, is the parallelism bound. */
  private def exportEntryChanges(spark: SparkSession, a: Args,
      cached: ListBuffer[Dataset[_]]): Unit = {
    import graft.sources.LedgerFixtures
    require(a.batchSize > 0, s"batch-size (${a.batchSize}) must be greater than 0")
    // --batch-input: the REAL datastore substrate carries the soroban
    // state families (P13-P16) at the change grain; classic families ride
    // their own table paths, so "all" narrows to the four real ones here
    val sorobanTypes = Seq("contract_data", "contract_code",
      "config_setting", "ttl")
    val wanted: Seq[String] =
      if (a.exportType == "all")
        if (a.batchInput.isDefined) sorobanTypes else EntryTypes.map(_._1)
      else {
        val w = a.exportType.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        w.foreach(t => if (!EntryTypes.exists(_._1 == t))
          sys.error(s"unknown export type: $t"))
        if (a.batchInput.isDefined)
          w.foreach(t => if (!sorobanTypes.contains(t)) sys.error(
            s"--batch-input exports the soroban state types " +
              s"(${sorobanTypes.mkString(", ")}), not $t"))
        w
      }
    // persisted once: all four state resources project the SAME decoded
    // rows — without this each resource re-reads and re-decodes the tree
    // (4× read amplification on a real backfill); released by `run`
    lazy val realLedgers = {
      val ds = graft.sources.LcmBatchFiles.ledgerRowsForRange(
          spark, a.batchInput.getOrElse(""), a.start, a.end, a.networkId)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached += ds
      ds
    }

    lazy val changes = StellarFixture.changes(spark, a.start, a.end,
        includeTrustlines = true)
      .where(col("ledger_sequence").between(a.start, a.end))
    lazy val tableDir = a.tableDir.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("--table-dir (or SPARK_GRAFT_SF_DIR) is required " +
        "for state-entry export types"))
    def tbl(name: String) = LedgerFixtures.table(spark, tableDir, name)

    def frameFor(t: String): DataFrame = t match {
      case "contract_data" if a.batchInput.isDefined =>
        graft.operators.SorobanStateTables
          .contractDataFromLedgers(realLedgers, a.passphrase)
      case "contract_code" if a.batchInput.isDefined =>
        graft.operators.SorobanStateTables.contractCodeFromLedgers(realLedgers)
      case "config_setting" if a.batchInput.isDefined =>
        graft.operators.SorobanStateTables.configSettingsFromLedgers(realLedgers)
      case "ttl" if a.batchInput.isDefined =>
        graft.operators.SorobanStateTables.ttlFromLedgers(realLedgers)
      case "account" => ChangeTransforms.accounts(changes)
      case "signer" => ChangeTransforms.accountSigners(changes)
      case "offer" =>
        val o = ChangeTransforms.offers(changes)
        if (a.strict && ChangeTransforms.invalidOffers(o).limit(1).count() > 0)
          sys.error("strict-export: offer invariant violation")
        o
      case "trustline" => ChangeTransforms.trustlines(changes)
      case "claimable_balance" =>
        EntryProjections.claimableBalances(tbl("customer"))
      case "pool" => EntryProjections.liquidityPools(tbl("part"))
      case "contract_data" => EntryProjections.contractData(tbl("part"))
      case "contract_code" => EntryProjections.contractCode(tbl("part"))
      case "config_setting" => EntryProjections.configSettings(tbl("nation"))
      case "ttl" => EntryProjections.ttls(LedgerFixtures.events(spark, tableDir))
    }

    wanted.foreach { t =>
      val (_, resource, seqCol0) = EntryTypes.find(_._1 == t).get
      // real changes batch by the ledger they occurred in (the reference's
      // batch loop walks ledger ranges); the fixture state tables keep
      // their last-modified convention
      val seqCol = if (a.batchInput.isDefined) "ledger_sequence" else seqCol0
      writeBatchFiles(spark, frameFor(t), seqCol, resource, a)
    }
  }

  /** Distributed per-batch file writer: one shuffle on the batch id, one
    * part file per batch (repartition on the partition column ⇒ each batch
    * lands in exactly one task), then driver-side renames to the
    * reference-shaped `{bs}-{be}-{resource}.{txt|parquet}` names. Batches
    * with no rows still get an empty `.txt` (reference `MustOutFile` always
    * creates the file); empty parquet placeholders are skipped — a 0-byte
    * file is not valid parquet. */
  private def writeBatchFiles(spark: SparkSession, df0: DataFrame,
      seqCol: String, resource: String, a: Args): Unit = {
    import org.apache.hadoop.fs.Path
    val ext = a.format match {
      case "ndjson" => "txt"
      case "parquet" => "parquet"
      case other => sys.error(s"unknown format: $other")
    }
    val df = withExtras(df0, a.extraFields)
      .where(col(seqCol).between(a.start, a.end))
      .withColumn("__batch",
        floor((col(seqCol) - a.start) / a.batchSize).cast("long"))
    val tmp = new Path(a.output, s".tmp-$resource")
    val writer = df.repartition(col("__batch"))
      .write.mode("overwrite").partitionBy("__batch")
    if (ext == "txt") writer.json(tmp.toString) else writer.parquet(tmp.toString)

    val fs = tmp.getFileSystem(spark.sessionState.newHadoopConf())
    val nBatches = (a.end - a.start) / a.batchSize + 1
    var written = 0L
    (0L until nBatches).foreach { b =>
      val bs = a.start + b * a.batchSize
      val be = math.min(bs + a.batchSize - 1, a.end)
      val target = new Path(a.output, s"$bs-$be-$resource.$ext")
      fs.delete(target, false)
      val dir = new Path(tmp, s"__batch=$b")
      val parts =
        if (fs.exists(dir))
          fs.listStatus(dir).map(_.getPath)
            .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        else Array.empty[Path]
      parts.length match {
        case 0 => if (ext == "txt") fs.create(target, true).close()
        case 1 => fs.rename(parts.head, target)
        case _ if ext == "txt" =>
          // speculative retries can leave extra parts: stream-concatenate
          val out = fs.create(target, true)
          parts.foreach { p =>
            val in = fs.open(p)
            org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 16, false)
            in.close()
          }
          out.close()
        case _ => fs.rename(parts.head, target)
      }
      if (parts.nonEmpty) written += 1
    }
    fs.delete(tmp, true)
    println(s"""{"resource":"$resource","batches":$nBatches,"nonEmpty":$written}""")
  }
}
