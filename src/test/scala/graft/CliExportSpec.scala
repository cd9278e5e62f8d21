package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.cli.Export
import scala.jdk.CollectionConverters._

/** E2e for `export_ledger_entry_changes`: all ten entry types over a
  * two-batch range, reference-shaped per-batch filenames
  * (`{batchStart}-{batchEnd}-{resource}.txt`, `cmd/command_utils.go:105-107`),
  * each file valid NDJSON. */
class CliExportSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-cli-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"
  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-cli-$tag").toString

  private def ndjsonLines(path: java.nio.file.Path): Seq[String] =
    Files.readAllLines(path).asScala.toSeq.filter(_.nonEmpty)

  /** Run an export from an empty session cache (the fixture sources memo
    * their ledgers there) and check that it leaves nothing cached. */
  private def leavesNoCache(body: => Unit): Unit = {
    spark.catalog.clearCache()
    body
    assert(spark.sharedState.cacheManager.isEmpty, "the export left data cached")
  }

  test("all ten entry types export per-batch files with reference filenames") {
    val out = tmpDir("all")
    Export.run(spark, Export.parse(Array(
      "export_ledger_entry_changes",
      "--start", "100", "--end", "227", "--batch-size", "64",
      "--table-dir", sfDir, "--output", out)))

    val resources = Export.EntryTypes.map(_._2)
    val expected = for {
      (bs, be) <- Seq((100, 163), (164, 227))
      r <- resources
    } yield s"$bs-$be-$r.txt"
    expected.foreach { name =>
      assert(Files.exists(Paths.get(out, name)), s"missing batch file $name")
    }
    // exactly the 20 batch files, no temp residue
    val listed = Files.list(Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSet
    assert(listed == expected.toSet)

    // change-stream types: every batch non-empty, rows parse as JSON with
    // the projection's key field, and ledger_sequence stays in the batch
    for ((bs, be) <- Seq((100, 163), (164, 227));
         r <- Seq("accounts", "signers", "offers", "trustlines")) {
      val lines = ndjsonLines(Paths.get(out, s"$bs-$be-$r.txt"))
      assert(lines.nonEmpty, s"$bs-$be-$r.txt is empty")
      val seqs = spark.read.json(
        spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))
        .select("ledger_sequence").collect().map(_.getLong(0))
      assert(seqs.forall(s => s >= bs && s <= be),
        s"$r rows leaked outside batch [$bs,$be]")
    }

    // state-entry types keyed k+100 intersect the 100-227 window at sf0.001
    for (r <- Seq("claimable_balances", "liquidity_pools", "contract_data",
        "contract_code", "ttl")) {
      val total = Seq((100, 163), (164, 227)).map { case (bs, be) =>
        ndjsonLines(Paths.get(out, s"$bs-$be-$r.txt")).size
      }.sum
      assert(total > 0, s"no $r rows exported in range")
    }
    // config_settings batches on nation keys 0-24: empty at this window is
    // the expected steady-state (settings change rarely) — file still exists
    assert(ndjsonLines(Paths.get(out, "164-227-config_settings.txt")).isEmpty)
  }

  test("single-type and comma-list export narrows the output") {
    val out = tmpDir("narrow")
    Export.run(spark, Export.parse(Array(
      "export_ledger_entry_changes",
      "--start", "1000", "--end", "1063", "--batch-size", "64",
      "--export-type", "account,offer", "--output", out)))
    val listed = Files.list(Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSet
    assert(listed == Set("1000-1063-accounts.txt", "1000-1063-offers.txt"))
  }

  test("short final batch is clipped to --end") {
    val out = tmpDir("clip")
    Export.run(spark, Export.parse(Array(
      "export_ledger_entry_changes",
      "--start", "1000", "--end", "1100", "--batch-size", "64",
      "--export-type", "account", "--output", out)))
    val listed = Files.list(Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSet
    assert(listed == Set("1000-1063-accounts.txt", "1064-1100-accounts.txt"))
    val seqs = ndjsonLines(Paths.get(out, "1064-1100-accounts.txt"))
    assert(seqs.nonEmpty)
  }

  test("the reference's singular export_token_transfer spelling runs " +
    "end-to-end, and every reference Use: string dispatches") {
    // `cmd/export_token_transfers.go:14` registers `Use:
    // "export_token_transfer"` (singular) — a pasted reference invocation
    // must run unchanged
    assert(Export.parse(Array("export_token_transfer")).command ==
      "export_token_transfers")
    val out = tmpDir("singular") + "/tt"
    Export.run(spark, Export.parse(Array(
      "export_token_transfer", "--start", "1000", "--end", "1063",
      "--output", out, "--format", "ndjson")))
    assert(Files.list(Paths.get(out)).iterator().asScala
      .exists(_.toString.endsWith(".json")), "singular spelling wrote no output")
    // CLI-name audit: every command the reference registers (the cobra
    // `Use:` strings across `cmd/*.go`; upload_to_gcs ships as a plain
    // function there, kept here as a subcommand) must dispatch
    val referenceUse = Seq("export_assets", "export_contract_events",
      "export_effects", "export_ledger_entry_changes",
      "export_ledger_transaction", "export_ledgers", "export_operations",
      "export_token_transfer", "export_trades", "export_transactions",
      "get_ledger_range_from_times", "version")
    referenceUse.foreach { u =>
      assert(Export.KnownCommands.contains(Export.parse(Array(u)).command),
        s"reference command $u does not dispatch")
    }
  }

  test("get_ledger_range_from_times resolves the bracketing sequences") {
    // fixture cadence: closed_at = 1700000000s + 5s * sequence, so the
    // window [1700000000+200*5, 1700000000+300*5] must resolve to [200,300]
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Export.run(spark, Export.parse(Array(
        "get_ledger_range_from_times",
        "--start", "2", "--end", "1000",
        "--start-time", "2023-11-14 22:30:00",
        "--end-time", "2023-11-14 22:38:20")))
    }
    assert(out.toString("UTF-8").trim == """{"start":200,"end":300}""")
  }

  test("get_ledger_range_from_times with an empty window reports nulls") {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Export.run(spark, Export.parse(Array(
        "get_ledger_range_from_times",
        "--start", "2", "--end", "100",
        "--start-time", "1999-01-01 00:00:00",
        "--end-time", "1999-01-02 00:00:00")))
    }
    assert(out.toString("UTF-8").trim == """{"start":null,"end":null}""")
  }

  test("--wire-input runs supported commands off the .lcmb wire source") {
    val wire = tmpDir("wire-in")
    graft.sources.LcmWriter.writeFixture(wire, 5000, 5127)

    // export_transactions off the wire: sink parity with the transform
    val outTx = tmpDir("wire-tx")
    Export.run(spark, Export.parse(Array(
      "export_transactions", "--start", "5010", "--end", "5030",
      "--wire-input", wire, "--output", outTx, "--format", "parquet")))
    val sunk = spark.read.parquet(outTx)
    val direct = graft.operators.StellarTransforms.historyTransactionsFromLcm(
      spark.read.format("graft-lcm").load(wire)
        .where(org.apache.spark.sql.functions.col("sequence")
          .between(5010, 5030)))
    assert(sunk.count() == direct.count() && sunk.count() > 0)
    assert(sunk.collect().map(_.toSeq).toSet ==
      direct.collect().map(_.toSeq).toSet)

    // the change grain exports too, and respects the range bound
    val outCh = tmpDir("wire-ch")
    Export.run(spark, Export.parse(Array(
      "export_ledger_entry_changes", "--start", "5010", "--end", "5030",
      "--wire-input", wire, "--output", outCh, "--format", "ndjson")))
    val ch = spark.read.json(outCh)
    assert(ch.count() > 0)
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val r = ch.agg(fmin("ledger_sequence"), fmax("ledger_sequence")).head()
    assert(r.getLong(0) >= 5010L && r.getLong(1) <= 5030L)

    // trades run off the wire too (pre-state pricing path)
    val outTr = tmpDir("wire-trades")
    Export.run(spark, Export.parse(Array(
      "export_trades", "--start", "5010", "--end", "5030",
      "--wire-input", wire, "--output", outTr, "--format", "parquet")))
    assert(spark.read.parquet(outTr).count() > 0)

    // contract events run off the wire (Soroban meta event vector)
    val outEv = tmpDir("wire-events")
    Export.run(spark, Export.parse(Array(
      "export_contract_events", "--start", "5010", "--end", "5030",
      "--wire-input", wire, "--output", outEv, "--format", "parquet")))
    assert(spark.read.parquet(outEv).count() > 0)

    // effects run off the wire with the VARIANT details payload: the
    // NDJSON sink must render it as a raw JSON object (not a quoted
    // string), null keys dropped — the reference's omitempty shape
    val outEff = tmpDir("wire-effects")
    Export.run(spark, Export.parse(Array(
      "export_effects", "--start", "5010", "--end", "5030",
      "--wire-input", wire, "--output", outEff, "--format", "ndjson")))
    val effLines = new java.io.File(outEff).listFiles()
      .filter(_.getName.endsWith(".json"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq
    assert(effLines.nonEmpty)
    val omm = new com.fasterxml.jackson.databind.ObjectMapper()
    val trades = effLines.map(omm.readTree)
      .filter(_.get("type_string").asText == "trade")
    assert(trades.nonEmpty)
    trades.foreach { n =>
      val d = n.get("details")
      assert(d.isObject, s"details must be a raw object: $n")
      assert(d.get("seller") != null && d.get("offer_id") != null)
    }

    // unsupported command under --wire-input fails loudly
    val err = intercept[RuntimeException] {
      Export.run(spark, Export.parse(Array(
        "export_ledger_transaction", "--start", "5010", "--end", "5030",
        "--wire-input", wire, "--output", tmpDir("wire-bad"))))
    }
    assert(err.getMessage.contains("--wire-input supports"))
  }

  test("--permissive --xdr-input: a poison frame is reported (counted in " +
      "the observe() metric, dumped beside the output), never dropped") {
    // one good real-XDR frame + one truncated header, built by XdrEncode
    import graft.codec.{Hashes, XdrEncode}
    val seq = 78001L
    val header = XdrEncode.ledgerHeader(XdrEncode.HeaderSpec(seq, 1719600000L))
    val env = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(
      sourceKey = Hashes.sha256("perm-src".getBytes("UTF-8")), fee = 100L,
      seqNum = 7L, ops = Seq(XdrEncode.createAccountOp(
        Hashes.sha256("perm-dst".getBytes("UTF-8")), 5000000L))))
    val result = XdrEncode.txResult(100L, 0, Seq(XdrEncode.OpResultSpec(0, 0)))
    def b64(b: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(b)
    val txJson = s"""{"tx_envelope":"${b64(env)}",""" +
      s""""tx_result":"${b64(result)}"}"""
    val in = tmpDir("permissive-in")
    Files.writeString(Paths.get(in, "frames.json"),
      s"""{"ledger_header":"${b64(header)}","transactions":[$txJson]}\n""" +
        s"""{"ledger_header":"${b64(header.dropRight(6))}",""" +
        s""""transactions":[$txJson]}\n""")
    val out = tmpDir("permissive-out") + "/ledgers"

    val stdout = new java.io.ByteArrayOutputStream()
    // the decoded frames it caches are released after its sink
    leavesNoCache(Console.withOut(new java.io.PrintStream(stdout)) {
      Export.run(spark, Export.parse(Array(
        "export_ledgers", "--start", seq.toString, "--end", seq.toString,
        "--xdr-input", s"$in/frames.json", "--permissive",
        "--output", out, "--format", "ndjson")))
    })
    val printed = stdout.toString("UTF-8")
    // the poisoned count reaches the stats output...
    assert(printed.contains(""""xdr_poisoned":1"""), printed)
    // ...and the offending frame is dumped beside the export
    val errDir = Paths.get(out + "_decode_errors")
    assert(Files.exists(errDir))
    val errRows = Files.list(errDir).iterator().asScala
      .filter(_.toString.endsWith(".json")).flatMap(ndjsonLines(_)).toSeq
    assert(errRows.size == 1 && errRows.head.contains("XdrError"))
    // the good frame still exported
    val rows = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.toString.endsWith(".json")).flatMap(ndjsonLines(_)).toSeq
    assert(rows.size == 1 && rows.head.contains(s""""sequence":$seq"""))
    // fail-fast default: the same input without --permissive throws
    intercept[org.apache.spark.SparkException] {
      Export.run(spark, Export.parse(Array(
        "export_ledgers", "--start", seq.toString, "--end", seq.toString,
        "--xdr-input", s"$in/frames.json",
        "--output", tmpDir("strict-out") + "/x", "--format", "ndjson")))
    }
  }

  /** A RealXdrFixture datastore tree over `[lo, hi]` (seq % 3 + 1 txs per
    * ledger) on the `graftcount:` file system, and its local directory. */
  private def countedTree(lo: Long, hi: Long): (String, String) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingFs].getName)
    val dir = tmpDir("perm-tree")
    graft.sources.RealXdrFixture.writeBatchTree(dir, lo, hi)
    (dir, s"graftcount:$dir")
  }

  /** Truncate one object's zstd frame to half: its decode throws. */
  private def poison(dir: String, seq: Long): Unit = {
    val f = Paths.get(dir, graft.sources.LcmBatchFiles.objectKey(seq))
    val bytes = Files.readAllBytes(f)
    Files.write(f, java.util.Arrays.copyOf(bytes, bytes.length / 2))
  }

  /** `export_transactions` over `[lo, hi]` of `tree`, which must leave no
    * decoded rows cached: the stdout and the exported rows per ledger. */
  private def exportTxs(tree: String, lo: Long, hi: Long, out: String,
      flags: String*): (String, Map[Long, Long]) = {
    val stdout = new java.io.ByteArrayOutputStream()
    leavesNoCache(Console.withOut(new java.io.PrintStream(stdout)) {
      Export.run(spark, Export.parse(Array(
        "export_transactions", "--start", lo.toString, "--end", hi.toString,
        "--batch-input", tree, "--output", out, "--format", "ndjson") ++ flags))
    })
    val perLedger = spark.read.json(out).groupBy("ledger_sequence").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (stdout.toString("UTF-8"), perLedger)
  }

  test("--permissive --batch-input reads only its range: an in-range " +
      "poisoned object is reported, one outside is never opened") {
    val (lo, hi) = (1002L, 1009L)
    val (dir, tree) = countedTree(1000L, 1011L)
    poison(dir, 1005L) // inside [lo, hi]
    poison(dir, 1010L) // outside
    val rangeKeys = (lo to hi)
      .map(s => s"$dir/${graft.sources.LcmBatchFiles.objectKey(s)}").toSet

    CountingFs.reset(dir)
    val out = tmpDir("perm-range") + "/txs"
    val (printed, perLedger) = exportTxs(tree, lo, hi, out, "--permissive")
    // the export opens exactly the range's objects and lists nothing
    assert(CountingFs.openedPaths.asScala.toSet == rangeKeys)
    assert(CountingFs.lists.get() == 0)
    // one poisoned object among the range's eight
    assert(printed.contains(""""xdr_poisoned":1,"errors_path""""), printed)
    assert(printed.contains(
      """{"xdr_frames":8,"xdr_decoded":7,"xdr_poisoned":1}"""), printed)
    // the dump lists only the in-range key
    val dumped = spark.read.json(out + "_decode_errors").collect()
      .map(r => r.getAs[String]("path")).toSeq
    assert(dumped.size == 1 &&
      dumped.head.endsWith(graft.sources.LcmBatchFiles.objectKey(1005L)),
      dumped)
    // every good in-range ledger exported, with all its transactions
    assert(perLedger ==
      (lo to hi).filter(_ != 1005L).map(s => s -> (s % 3 + 1)).toMap)

    // fail-fast default: the same range still throws
    intercept[org.apache.spark.SparkException] {
      exportTxs(tree, lo, hi, tmpDir("perm-strict") + "/txs")
    }
  }

  test("--permissive --batch-input skips an absent in-range object, as " +
      "the fail-fast path does") {
    val (lo, hi) = (2000L, 2007L)
    val (dir, tree) = countedTree(lo, hi)
    Files.delete(Paths.get(dir, graft.sources.LcmBatchFiles.objectKey(2003L)))
    val want = (lo to hi).filter(_ != 2003L).map(s => s -> (s % 3 + 1)).toMap

    val out = tmpDir("perm-absent") + "/txs"
    val (printed, perLedger) = exportTxs(tree, lo, hi, out, "--permissive")
    assert(printed.contains(
      """{"xdr_frames":7,"xdr_decoded":7,"xdr_poisoned":0}"""), printed)
    assert(!Files.exists(Paths.get(out + "_decode_errors")))
    assert(perLedger == want)

    val (_, strict) = exportTxs(tree, lo, hi, tmpDir("perm-absent-ff") + "/txs")
    assert(strict == want)
  }

  test("upload_to_gcs: upload-verify-delete over the Hadoop FS abstraction") {
    // the reference's K3 contract (upload_to_gcs.go:25-74): copy to the
    // bucket with the LOCAL PATH as the object key, verify the uploaded
    // object readback, delete the local copy only on success. file: here,
    // gs:// in production — same code path.
    val bucket = tmpDir("bucket")
    val local = Files.createTempDirectory("graft-upload-src")
    Files.writeString(local.resolve("batch.txt"), "line1\nline2\n")

    val file = local.resolve("batch.txt").toString
    Export.run(spark, Export.parse(Array(
      "upload_to_gcs", "--gcs-bucket", s"file:$bucket", "--path", file)))
    // object key = the local path, rooted under the bucket
    val uploaded = Paths.get(bucket, file)
    assert(Files.exists(uploaded), s"missing $uploaded")
    assert(Files.readString(uploaded) == "line1\nline2\n")
    assert(!Files.exists(Paths.get(file)), "local file must be deleted")

    // a whole export directory uploads recursively (MaybeUpload on a sink)
    val outDir = tmpDir("upload-export")
    Export.run(spark, Export.parse(Array(
      "export_ledgers", "--start", "100", "--end", "103",
      "--table-dir", sfDir, "--output", outDir,
      "--cloud-provider", "gcp", "--cloud-storage-bucket", s"file:$bucket")))
    val destDir = Paths.get(bucket, outDir)
    assert(Files.isDirectory(destDir))
    assert(Files.list(destDir).iterator().asScala.nonEmpty)
    assert(!Files.exists(Paths.get(outDir)), "local export must be deleted")

    // no provider ⇒ the hook is silent and the output stays local
    val outStay = tmpDir("upload-stays")
    Export.run(spark, Export.parse(Array(
      "export_ledgers", "--start", "100", "--end", "103",
      "--table-dir", sfDir, "--output", outStay)))
    assert(Files.exists(Paths.get(outStay)))

    // provider without bucket ⇒ fatal (command_utils.go:129-131)
    intercept[IllegalArgumentException] {
      Export.run(spark, Export.parse(Array(
        "export_ledgers", "--start", "100", "--end", "103",
        "--table-dir", sfDir, "--output", tmpDir("upload-nobkt"),
        "--cloud-provider", "gcp")))
    }
  }

  test("missing --end fails fast; --end 0 is rejected off the changes command") {
    // omitting --end must not silently enter the unbounded streaming arm
    // (pre-r12 regression: Args.end defaulted to 0 and blocked forever)
    val e1 = intercept[RuntimeException](Export.run(spark, Export.parse(Array(
      "export_ledgers", "--start", "100",
      "--output", tmpDir("noend"), "--format", "parquet"))))
    assert(e1.getMessage.contains("requires --end"))
    // the reference's endNum=0 continuous semantics exist ONLY on
    // export_ledger_entry_changes
    val e2 = intercept[RuntimeException](Export.run(spark, Export.parse(Array(
      "export_transactions", "--start", "100", "--end", "0",
      "--wire-input", tmpDir("noend-wire"),
      "--output", tmpDir("noend2"), "--format", "parquet"))))
    assert(e2.getMessage.contains("only applies to"))
  }

  test("--end 0 runs the wire export UNBOUNDED and matches the bounded run") {
    // the reference's continuous mode (export_ledger_entry_changes.go:72-89,
    // endNum 0 ⇒ MaxInt32 + blocking change stream): here the MICRO_BATCH
    // source — batch files landing later are picked up by the SAME running
    // query, and the total output matches the bounded command row-for-row
    val wire = tmpDir("wire-stream-in")
    graft.sources.LcmWriter.writeFixture(wire, 6000, 6063)

    val out = tmpDir("wire-stream-out")
    sys.props("graft.stream.once") = "1"
    try {
      Export.run(spark, Export.parse(Array(
        "export_ledger_entry_changes", "--start", "6000", "--end", "0",
        "--batch-size", "64", "--wire-input", wire,
        "--output", out, "--format", "parquet")))
      // more wire lands; a fresh unbounded run (same checkpoint) resumes
      // and drains ONLY the new batch files into the same sink
      graft.sources.LcmWriter.writeFixture(wire, 6064, 6127)
      Export.run(spark, Export.parse(Array(
        "export_ledger_entry_changes", "--start", "6000", "--end", "0",
        "--batch-size", "64", "--wire-input", wire,
        "--output", out, "--format", "parquet")))
    } finally sys.props.remove("graft.stream.once")

    val streamed = spark.read.parquet(out)
    // the reference's every-batchSize-ledgers grouping, as partition dirs
    // absolute 64-ledger batch ids (the K4 law): 6000..6127 spans 93-95
    assert(streamed.select(org.apache.spark.sql.functions
        .col("batch_id").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet == Set(93L, 94L, 95L))
    val bounded = graft.operators.StellarTransforms.ledgerChangesFromLcm(
      spark.read.format("graft-lcm").load(wire)
        .where(org.apache.spark.sql.functions.col("sequence")
          .between(6000, 6127)))
    assert(streamed.drop("batch_id").collect().map(_.toSeq).toSet ==
      bounded.collect().map(_.toSeq).toSet)
    assert(streamed.count() == bounded.count())
  }

  test("--testnet re-domains the tx hash and the SAC contract-data " +
      "self-check (GetEnvironmentDetails passphrase law)") {
    import graft.codec.{Hashes, Network, SacContractId, ScVal, StellarXdr,
      Strkey, XdrEncode}
    val srcKey = Hashes.sha256("net-src".getBytes("UTF-8"))
    val destKey = Hashes.sha256("net-dst".getBytes("UTF-8"))
    val issuer = Hashes.sha256("net-iss".getBytes("UTF-8"))

    val env = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(
      sourceKey = srcKey, fee = 100L, seqNum = 7L,
      ops = Seq(XdrEncode.createAccountOp(destKey, 5000000L))))
    val result = XdrEncode.txResult(100L, 0, Seq(XdrEncode.OpResultSpec(0, 0)))
    val header = XdrEncode.ledgerHeader(XdrEncode.HeaderSpec(77001L, 1719600000L))
    def b64(b: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(b)

    // --- tx hash over raw archive frames: same bytes, different domain ---
    val in = tmpDir("net-frames")
    Files.writeString(Paths.get(in, "frames.json"),
      s"""{"ledger_header":"${b64(header)}","transactions":[""" +
        s"""{"tx_envelope":"${b64(env)}","tx_result":"${b64(result)}"}]}\n""")
    def exportedHash(flags: String*): String = {
      val out = tmpDir("net-txs") + "/txs"
      Export.run(spark, Export.parse(Array(
        "export_transactions", "--start", "77001", "--end", "77001",
        "--xdr-input", s"$in/frames.json", "--output", out,
        "--format", "ndjson") ++ flags))
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val rows = Files.list(Paths.get(out)).iterator().asScala
        .filter(_.toString.endsWith(".json")).flatMap(ndjsonLines(_)).toSeq
      assert(rows.size == 1)
      om.readTree(rows.head).get("transaction_hash").asText()
    }
    val mainnetHash = exportedHash()
    val testnetHash = exportedHash("--testnet")
    assert(mainnetHash != testnetHash)
    // the testnet hash IS sha256(testnetNetworkId ‖ ENVELOPE_TYPE_TX ‖ tx)
    assert(testnetHash == Hashes.hex(
      StellarXdr.decodeTxEnvelope(env, Network.id("testnet")).hash))
    assert(mainnetHash == Hashes.hex(StellarXdr.decodeTxEnvelope(env).hash))
    // futurenet is a THIRD domain; testnet wins when both flags are set
    // (the reference's GetEnvironmentDetails checks IsTest first)
    assert(exportedHash("--futurenet") != testnetHash)
    assert(exportedHash("--futurenet") != mainnetHash)
    assert(exportedHash("--testnet", "--futurenet") == testnetHash)

    // --- SAC asset walk over a TESTNET-written datastore tree ---
    // instance entry whose contract id derives from the TESTNET
    // passphrase: the walk recovers the asset only when the export runs
    // with the matching network
    val cdKey = ScVal.encode(ScVal.LedgerKeyContractInstance)
    val cdVal = ScVal.encode(ScVal.ContractInstance(None, Seq(
      ScVal.Vec(Seq(ScVal.Sym("AssetInfo"))) ->
        ScVal.Vec(Seq(ScVal.Sym("AlphaNum4"), ScVal.M(Seq(
          ScVal.Sym("asset_code") -> ScVal.Str("TSTX"),
          ScVal.Sym("issuer") -> ScVal.Bytes(issuer))))))))
    val testnetSacId = SacContractId.contractId(
      "credit_alphanum4", "TSTX", issuer, Network.TestnetPassphrase)
    val meta = XdrEncode.txMetaV3(XdrEncode.TxMetaV3Spec(
      opChanges = Seq(Seq(XdrEncode.change(0, XdrEncode.ledgerEntry(77001L,
        XdrEncode.contractDataEntry(testnetSacId, cdKey, 1, cdVal)))))))
    val feeMeta = XdrEncode.feeMetaPair(srcKey, 1000000L, 999900L)
    val lcmTx = XdrEncode.LcmTx(env, result, meta, feeMeta)
    def tree(networkId: Array[Byte]): String = {
      val dir = tmpDir("net-tree")
      graft.sources.LcmBatchFiles.writeTree(dir,
        Seq((header, Seq(lcmTx))), networkId)
      dir
    }
    def exportedContractData(tree: String, flags: String*): String = {
      val out = tmpDir("net-cd")
      // the decoded rows it persists for its resources are released
      leavesNoCache(Export.run(spark, Export.parse(Array(
        "export_ledger_entry_changes", "--start", "77001", "--end", "77001",
        "--batch-input", tree, "--export-type", "contract_data",
        "--batch-size", "64", "--output", out,
        "--format", "ndjson") ++ flags)))
      val rows = ndjsonLines(Paths.get(out, "77001-77001-contract_data.txt"))
      assert(rows.size == 1)
      rows.head
    }
    val testnetTree = tree(Network.id("testnet"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val tn = om.readTree(exportedContractData(testnetTree, "--testnet"))
    assert(tn.get("contract_id").asText() ==
      Strkey.encodeContract(testnetSacId))
    assert(tn.get("asset_code").asText() == "TSTX")
    assert(tn.get("asset_type").asText() == "credit_alphanum4")
    assert(tn.get("asset_issuer").asText() == Strkey.encodeAccountId(issuer))
    // the same entry on a MAINNET tree under the mainnet default: the
    // self-check derives the mainnet SAC id, which cannot match the
    // testnet-derived contract id — impostor rejected, fields empty
    val mn = om.readTree(
      exportedContractData(tree(StellarXdr.PublicNetworkId)))
    assert(mn.get("asset_code").asText() == "" &&
      mn.get("asset_type").asText() == "")
    // cross-network decode fails LOUDLY: a testnet tree read as mainnet
    // trips the embedded result-pair hash consistency check
    val err = intercept[org.apache.spark.SparkException] {
      exportedContractData(testnetTree)
    }
    assert(err.getMessage.contains("not in tx set"))

    // token transfers derive network-correct SAC contract ids: the native
    // asset's C-address differs by network (create_account emits a
    // transfer event whose contract_id is the native SAC)
    def transferContractIds(flags: String*): Set[String] = {
      val out = tmpDir("net-tt") + "/tt"
      Export.run(spark, Export.parse(Array(
        "export_token_transfers", "--start", "77001", "--end", "77001",
        "--xdr-input", s"$in/frames.json", "--output", out,
        "--format", "ndjson") ++ flags))
      Files.list(Paths.get(out)).iterator().asScala
        .filter(_.toString.endsWith(".json")).flatMap(ndjsonLines(_))
        .map(l => om.readTree(l).get("contract_id").asText()).toSet
    }
    val nativeTestnet = SacContractId.contractAddress("native", "",
      Array.emptyByteArray, Network.TestnetPassphrase)
    val nativeMainnet = SacContractId.contractAddress("native", "",
      Array.emptyByteArray)
    assert(nativeTestnet != nativeMainnet)
    assert(transferContractIds("--testnet") == Set(nativeTestnet))
    assert(transferContractIds() == Set(nativeMainnet))
  }
}
