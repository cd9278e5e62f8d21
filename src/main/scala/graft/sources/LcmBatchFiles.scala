package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}

import com.github.luben.zstd.{ZstdInputStream, ZstdOutputStream}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.{StellarXdr, XdrEncode}
import graft.model.LedgerModel.LedgerRow

/** The reference's DATASTORE file layout as a Spark input format: zstd-framed
  * `LedgerCloseMetaBatch` XDR objects, one ledger per file, 64 000 files per
  * partition prefix (`/root/reference/internal/utils/main.go:972-1019`; the
  * naming scheme is the public stellar-go `datastore` package's
  * `GetObjectKeyFromSequenceNumber` — hex-INVERTED zero-padded prefixes so
  * lexicographic listing descends by sequence and object names spread evenly
  * across bucket index ranges).
  *
  * Read side: a bounded read never lists. The naming law maps
  * `[start,end]` to its object keys, each task opens its keys directly
  * through the Hadoop FS and decompresses + decodes them at the
  * deserialization boundary ([[ledgerRowsForRange]]). Permissive mode is
  * the same read twice: [[decodeErrorsForRange]] reports the range's
  * poisoned objects, then `ledgerRowsForRange(permissive = true)` skips
  * them. Map-only: a 100 TB backfill parallelizes per object exactly like
  * the reference's BufferedStorageBackend workers. The `binaryFile` reads
  * ([[ledgerRows]], [[objectsPermissive]]) list the whole tree and serve
  * only unbounded tools and the traced benchmark.
  */
object LcmBatchFiles {

  val LedgersPerFile = 1L
  val FilesPerPartition = 64000L

  /** Cached ExpressionEncoders (r21): deriving the deeply nested
    * `LedgerRow` encoder walks the full Seq[TxModel] tree via runtime
    * reflection — measured 35-100 ms per derivation even JIT-warm — and
    * `import spark.implicits._` re-derived it on EVERY query build, i.e.
    * once per bench rep for each of the ten real-XDR queries. Encoders
    * are immutable schema descriptors (Dataset ops resolve-and-bind their
    * own copies), so one module val is bit-identical and session-safe.
    * Pure metadata — no data or results are cached. */
  private[graft] lazy val ledgerRowEnc: org.apache.spark.sql.Encoder[LedgerRow] =
    org.apache.spark.sql.Encoders.product[LedgerRow]
  private lazy val binEnc: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
  private lazy val pathBinEnc: org.apache.spark.sql.Encoder[(String, Array[Byte])] =
    org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.BINARY)
  private lazy val objResEnc: org.apache.spark.sql.Encoder[ObjectDecodeResult] =
    org.apache.spark.sql.Encoders.product[ObjectDecodeResult]

  /** The datastore object key for a ledger sequence (public naming law). */
  def objectKey(seq: Long, ledgersPerFile: Long = LedgersPerFile,
      filesPerPartition: Long = FilesPerPartition): String = {
    val partitionSize = ledgersPerFile * filesPerPartition
    val fileStart = (seq / ledgersPerFile) * ledgersPerFile
    val fileEnd = fileStart + ledgersPerFile - 1
    val partitionStart = (seq / partitionSize) * partitionSize
    val partitionEnd = partitionStart + partitionSize - 1
    val partitionPrefix =
      f"${0xffffffffL - partitionStart}%08x--$partitionStart-$partitionEnd"
    val fileName =
      if (ledgersPerFile == 1) f"${0xffffffffL - fileStart}%08x--$fileStart"
      else f"${0xffffffffL - fileStart}%08x--$fileStart-$fileEnd"
    s"$partitionPrefix/$fileName.xdr.zstd"
  }

  /** Write one batch object (zstd-framed LedgerCloseMetaBatch). The object
    * key is derived from the schema's `ledgersPerFile`, so a multi-ledger
    * batch gets the `start-end` file-name form the naming law prescribes. */
  def writeObject(root: Path, startSeq: Long, endSeq: Long,
      lcms: Seq[Array[Byte]],
      ledgersPerFile: Long = LedgersPerFile,
      filesPerPartition: Long = FilesPerPartition): Path = {
    val rel = objectKey(startSeq, ledgersPerFile, filesPerPartition)
    val target = root.resolve(rel)
    Files.createDirectories(target.getParent)
    val out = new ZstdOutputStream(
      new BufferedOutputStream(new FileOutputStream(target.toFile)))
    try out.write(XdrEncode.ledgerCloseMetaBatch(startSeq, endSeq, lcms))
    finally out.close()
    target
  }

  /** Generate a batch-file tree from encoded (header, txs) ledgers —
    * the test/ingest-staging writer (1 ledger per file, like the
    * reference's exporter). */
  def writeTree(rootDir: String,
      ledgers: Seq[(Array[Byte], Seq[XdrEncode.LcmTx])],
      networkId: Array[Byte]): Unit = {
    val root = Paths.get(rootDir)
    ledgers.foreach { case (header, txs) =>
      val row = StellarXdr.decodeLedgerHeader(header)
      val lcm = XdrEncode.ledgerCloseMetaV1(header, txs,
        networkId = networkId)
      writeObject(root, row.ledgerSeq, row.ledgerSeq, Seq(lcm))
    }
  }

  def writeTree(rootDir: String,
      ledgers: Seq[(Array[Byte], Seq[XdrEncode.LcmTx])]): Unit =
    writeTree(rootDir, ledgers, StellarXdr.PublicNetworkId)

  /** Multi-ledger-batch tree writer: ledgers grouped into fixed
    * `ledgersPerFile` spans, one object per span (the datastore schema's
    * `ledgers_per_file > 1` configuration). */
  def writeTree(rootDir: String,
      ledgers: Seq[(Array[Byte], Seq[XdrEncode.LcmTx])],
      ledgersPerFile: Long): Unit = {
    val root = Paths.get(rootDir)
    ledgers.map { case (header, txs) =>
      val seq = StellarXdr.decodeLedgerHeader(header).ledgerSeq
      (seq, XdrEncode.ledgerCloseMetaV1(header, txs))
    }.groupBy { case (seq, _) => Math.floorDiv(seq, ledgersPerFile) }
      .foreach { case (_, grp) =>
        val sorted = grp.sortBy(_._1)
        writeObject(root, sorted.head._1, sorted.last._1,
          sorted.map(_._2), ledgersPerFile)
      }
  }

  private def decompress(bytes: Array[Byte]): Array[Byte] = {
    val in = new ZstdInputStream(new java.io.ByteArrayInputStream(bytes))
    try in.readAllBytes() finally in.close()
  }

  /** Decode one object's bytes (executor-side). `networkId` selects the
    * passphrase domain-separating the tx hashes (the reference's
    * `--testnet`/`--futurenet` flags, `internal/utils/main.go:866-895`). */
  def decodeObject(bytes: Array[Byte],
      networkId: Array[Byte] = StellarXdr.PublicNetworkId): Seq[LedgerRow] =
    StellarXdr.decodeLedgerCloseMetaBatch(decompress(bytes), networkId)

  /** [[decodeObject]] with its failure as a value: `Left` carries the
    * reported error text of an object whose decompress or decode threw. */
  private def tryDecodeObject(bytes: Array[Byte],
      networkId: Array[Byte] = StellarXdr.PublicNetworkId)
      : Either[String, Seq[LedgerRow]] =
    try Right(decodeObject(bytes, networkId))
    catch {
      case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** The backfill read path: binaryFile scan → executor decode. Column
    * pruning drops `content` siblings; only `.xdr.zstd` objects match. */
  def ledgerRows(spark: SparkSession, rootDir: String,
      networkId: Array[Byte] = StellarXdr.PublicNetworkId): Dataset[LedgerRow] =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xdr.zstd")
      .option("recursiveFileLookup", "true")
      .load(rootDir)
      .select(col("content"))
      .as(binEnc)
      .flatMap(decodeObject(_, networkId))(ledgerRowEnc)

  /** Permissive-mode result: one row per OBJECT file — either its decoded
    * ledgers or the error (poison objects must be reported, never dropped;
    * the caller splits on `error`, mirroring
    * [[graft.operators.RealXdrSource.ledgerRowsPermissive]]). */
  final case class ObjectDecodeResult(path: String, rows: Seq[LedgerRow],
      error: Option[String])

  /** Whole-tree permissive read: lists and decodes every object, whatever
    * range the caller wants. Only the traced benchmark still uses it;
    * `export_* --batch-input --permissive` reads its range with
    * [[decodeErrorsForRange]] and [[ledgerRowsForRange]]. */
  def objectsPermissive(spark: SparkSession, rootDir: String,
      networkId: Array[Byte] = StellarXdr.PublicNetworkId): Dataset[ObjectDecodeResult] = {
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xdr.zstd")
      .option("recursiveFileLookup", "true")
      .load(rootDir)
      .select(col("path"), col("content"))
      .as(pathBinEnc)
      .map { case (path, bytes) =>
        tryDecodeObject(bytes, networkId) match {
          case Right(rows) => ObjectDecodeResult(path, rows, None)
          case Left(err) => ObjectDecodeResult(path, Nil, Some(err))
        }
      }(objResEnc)
  }

  /** The range's objects as `(path, bytes)`, each opened inside a task
    * through the Hadoop FS (any scheme the cluster knows). Keys come from
    * the naming law, so nothing is listed; an absent object is skipped
    * (as a listing would never show it), any other read failure fails
    * the job. */
  private def rangeObjects(spark: SparkSession, rootDir: String,
      startSeq: Long, endSeq: Long): RDD[(String, Array[Byte])] = {
    val paths = (startSeq to endSeq by LedgersPerFile)
      .map(seq => s"$rootDir/${objectKey(seq)}")
    val conf = new SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    val slices = math.max(1,
      math.min(paths.size, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(paths, slices).flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf.value)
      try {
        val in = fs.open(hp)
        try Some(p -> in.readAllBytes()) finally in.close()
      } catch {
        case _: java.io.FileNotFoundException => None
      }
    }
  }

  /** What the permissive error pass found in a range: the objects it
    * opened, and `(path, error)` for each one whose decode threw. */
  final case class RangeDecodeErrors(objects: Long,
      errors: Seq[(String, String)])

  /** The error-only pass of a permissive range read: decode every object
    * of `[startSeq, endSeq]` and drop its rows, so no `LedgerRow` is
    * encoded; only the object count and the errors are collected.
    * Decode is deterministic, so `ledgerRowsForRange(permissive = true)`
    * over the same range skips exactly these objects. */
  def decodeErrorsForRange(spark: SparkSession, rootDir: String,
      startSeq: Long, endSeq: Long,
      networkId: Array[Byte] = StellarXdr.PublicNetworkId): RangeDecodeErrors = {
    val nid = networkId
    val parts = rangeObjects(spark, rootDir, startSeq, endSeq)
      .mapPartitions { objs =>
        var n = 0L
        val errs = Seq.newBuilder[(String, String)]
        objs.foreach { case (p, bytes) =>
          n += 1
          tryDecodeObject(bytes, nid).left.foreach(e => errs += p -> e)
        }
        Iterator.single((n, errs.result()))
      }.collect()
    RangeDecodeErrors(parts.map(_._1).sum, parts.toSeq.flatMap(_._2).sortBy(_._1))
  }

  /** Range-pruned variant: the object-key law maps a ledger range to its
    * file names, so NOTHING is ever listed — the 100 TB shape (a backfill
    * of 1M ledgers out of 200M touches exactly its 1M objects). r21: the
    * first cut stat'ed every candidate on the driver (local-FS-only
    * `Files.exists`) and then let the binaryFile source RE-list the same
    * paths — an InMemoryFileIndex parallel-discovery Spark job costing
    * ~0.2 s per query at 128 paths and one driver round-trip per object at
    * backfill scale. Now each TASK opens its assigned objects directly
    * ([[rangeObjects]]); no stat calls, no listing job, no file index.
    * Decode is the executor-side fail-fast boundary; with `permissive`
    * an object whose decode throws contributes no rows instead (the
    * caller reports it through [[decodeErrorsForRange]]). A full-history
    * job should still chunk its range into per-job slices, exactly as the
    * reference's batch loop does. */
  def ledgerRowsForRange(spark: SparkSession, rootDir: String,
      startSeq: Long, endSeq: Long,
      networkId: Array[Byte] = StellarXdr.PublicNetworkId,
      permissive: Boolean = false): Dataset[LedgerRow] = {
    val nid = networkId
    val rows = rangeObjects(spark, rootDir, startSeq, endSeq)
      .flatMap { case (_, bytes) =>
        if (permissive) tryDecodeObject(bytes, nid).getOrElse(Nil)
        else decodeObject(bytes, nid)
      }
    spark.createDataset(rows)(ledgerRowEnc)
      .filter(r => r.sequence >= startSeq && r.sequence <= endSeq)
  }

  /** Object→ledger decode over the DSv2 connector's object grain — shared
    * by batch reads and micro-batch `foreachBatch` bodies. */
  def ledgerRowsFromObjects(objects: DataFrame,
      networkId: Array[Byte] = StellarXdr.PublicNetworkId): Dataset[LedgerRow] =
    objects.select(col("content")).as(binEnc)
      .flatMap(decodeObject(_, networkId))(ledgerRowEnc)

  /** The connector form of the backfill read: pushed sequence bounds prune
    * partition prefixes and objects BY NAME at the scan (visible as
    * PushedFilters in the plan), then the usual executor-side decode.
    *
    * The object-level predicate is range OVERLAP (not containment), so a
    * multi-ledger object straddling a bound still contributes its in-range
    * ledgers; the row-level filter trims the overhang. Identical plan and
    * rows for the 1-ledger-per-file schema. `options` passes the datastore
    * schema config (`ledgersPerFile`, `filesPerPartition`) through. */
  def ledgerRowsViaConnector(spark: SparkSession, rootDir: String,
      startSeq: Long, endSeq: Long,
      options: Map[String, String] = Map.empty): Dataset[LedgerRow] =
    ledgerRowsFromObjects(
      spark.read.format("graft-lcm-datastore").options(options).load(rootDir)
        .where(col("end_sequence") >= startSeq &&
          col("start_sequence") <= endSeq))
      .filter(r => r.sequence >= startSeq && r.sequence <= endSeq)

  /** Tail a LIVE datastore tree: micro-batch stream at the object grain
    * (probe-based advance, no per-trigger listing) → executor decode.
    * `startSeq` is a LEDGER bound: with a multi-ledger schema the object
    * straddling it still streams (overlap pushdown) and the overhang is
    * trimmed row-level. */
  def ledgerRowsStream(spark: SparkSession, rootDir: String,
      startSeq: Option[Long] = None,
      options: Map[String, String] = Map.empty): Dataset[LedgerRow] = {
    val objects = spark.readStream.format("graft-lcm-datastore")
      .options(options).load(rootDir)
    val rows = ledgerRowsFromObjects(
      startSeq.map(s => objects.where(col("end_sequence") >= s))
        .getOrElse(objects))
    startSeq.map(s => rows.filter(_.sequence >= s)).getOrElse(rows)
  }
}
