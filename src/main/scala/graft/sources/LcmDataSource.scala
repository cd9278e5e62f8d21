package graft.sources

import java.util.{Map => JMap}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, EqualTo}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for raw ledger-close-meta batch files — the Spark
  * analog of the reference's datastore backend
  * (`/root/reference/internal/utils/main.go:981-1019`: one
  * `LedgerCloseMetaBatch` object per fixed ledger range, fetched by a worker
  * pool). Spark-first translation:
  *
  *   - one file per 64-ledger batch, named `{start}-{end}.lcmb` — the range
  *     in the name IS the partition index, so pushed `sequence` range
  *     predicates prune whole files before any byte is read (the DSv2
  *     equivalent of the reference's `PrepareRange`);
  *   - one `InputPartition` per surviving file — a 1000-executor cluster
  *     reads 1000 batches concurrently; no driver-side buffering (the
  *     reference holds every decoded ledger of the range in RAM,
  *     `input/transactions.go:23-71`);
  *   - frames are length-prefixed, decoded streaming, one `InternalRow` per
  *     ledger; required-column pruning skips building the nested tx array
  *     entirely when the query doesn't ask for it.
  *
  * Frame payload is the RFC 4506 XDR subset of `LedgerCloseMeta` defined by
  * [[graft.codec.Lcm]] — the source boundary parses XDR bytes exactly as
  * the reference's unmarshal layer does (`utils/main.go:686-705`), just over
  * the model's field subset since this environment has no real LCM corpus.
  */
class LcmDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-lcm"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LcmDataSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new LcmTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

object LcmDataSource {
  /** One wire change row ([[graft.codec.Lcm.WireChange]]). The entry-type-
    * discriminated pre/post arms surface as NULLABLE columns — null where
    * the arm doesn't apply (offer fields on non-offer changes, LP fields on
    * non-pool changes, sponsor on non-created or unsponsored entries) so
    * downstream relational logic coalesces instead of branching on 0s. */
  val ChangeSchema: StructType = StructType(Seq(
    StructField("kind", IntegerType, nullable = false),
    StructField("entry_type", IntegerType, nullable = false),
    StructField("op_index", IntegerType, nullable = false),
    StructField("key_hash_hex", StringType, nullable = false),
    StructField("last_modified", LongType, nullable = false),
    StructField("balance", LongType, nullable = false),
    StructField("offer_id", LongType, nullable = true),
    StructField("pre_price_n", IntegerType, nullable = true),
    StructField("pre_price_d", IntegerType, nullable = true),
    StructField("pre_reserve_a", LongType, nullable = true),
    StructField("pre_reserve_b", LongType, nullable = true),
    StructField("pre_shares", LongType, nullable = true),
    StructField("post_reserve_a", LongType, nullable = true),
    StructField("post_reserve_b", LongType, nullable = true),
    StructField("post_shares", LongType, nullable = true),
    StructField("pool_fee", IntegerType, nullable = true),
    StructField("pool_id_hex", StringType, nullable = true),
    // pre/post SponsoringIDs (null = unsponsored on that side) — the
    // sponsorship-effect families classify created/updated/removed on this
    // PAIR, not on the change kind (`effects.go:296-317`)
    StructField("pre_sponsor_hex", StringType, nullable = true),
    StructField("post_sponsor_hex", StringType, nullable = true),
    // AccountEntry signer→sponsor maps (ACCOUNT changes only; null
    // elsewhere) — the signer-sponsorship effects (72-74) diff this
    // pre/post pair per signer (`effects.go:225-285`)
    StructField("pre_signer_sponsors", ArrayType(StructType(Seq(
      StructField("signer_hex", StringType, nullable = false),
      StructField("sponsor_hex", StringType, nullable = false))),
      containsNull = false), nullable = true),
    StructField("post_signer_sponsors", ArrayType(StructType(Seq(
      StructField("signer_hex", StringType, nullable = false),
      StructField("sponsor_hex", StringType, nullable = false))),
      containsNull = false), nullable = true)))

  /** One Soroban contract event ([[graft.codec.Lcm.WireContractEvent]]):
    * topics/data surface as raw ScVal XDR binaries for the downstream
    * codec expressions (`scval_json`, base64) to decode in-plan. */
  val EventSchema: StructType = StructType(Seq(
    StructField("op_index", IntegerType, nullable = false),
    StructField("event_type", IntegerType, nullable = false),
    StructField("contract_id_hex", StringType, nullable = false),
    StructField("topics_xdr", ArrayType(BinaryType, containsNull = false),
      nullable = false),
    StructField("data_xdr", BinaryType, nullable = false)))

  /** One RESULT claim atom ([[graft.codec.Lcm.WireClaimAtom]]). */
  val ClaimAtomSchema: StructType = StructType(Seq(
    StructField("op_index", IntegerType, nullable = false),
    StructField("is_pool", BooleanType, nullable = false),
    StructField("seller_or_pool_hex", StringType, nullable = false),
    StructField("offer_id", LongType, nullable = false),
    StructField("sold_code", StringType, nullable = false),
    StructField("sold_amount", LongType, nullable = false),
    StructField("bought_code", StringType, nullable = false),
    StructField("bought_amount", LongType, nullable = false)))

  /** One operation of the envelope ([[graft.codec.Lcm.Op]]) — the wire
    * carries `nOps ×` of these per transaction (up to 100 in the reference;
    * TOID reserves 12 bits for the op index, `internal/toid/main.go:37-47`),
    * so the reader surfaces the FULL array: flattening to the first op
    * would silently drop ops 2..N of any multi-op envelope. */
  val OpSchema: StructType = StructType(Seq(
    StructField("op_type", IntegerType, nullable = false),
    StructField("amount", LongType, nullable = false),
    // the op's optional per-op source (null = the tx source acts)
    StructField("op_source_hex", StringType, nullable = true),
    // Operation.body union arms: destination for CREATE_ACCOUNT/PAYMENT
    // and both path-payment arms, PAYMENT asset code — null for the flat
    // stand-in arm
    StructField("op_destination_hex", StringType, nullable = true),
    StructField("op_asset_code", StringType, nullable = true),
    // path-payment arms (2 strict-receive / 13 strict-send): asset pair,
    // envelope-side bound (sendMax / destMin) and the RESULT-carried
    // actual amount (what the source actually paid / the destination
    // actually received — the value trades and effects laws consume)
    StructField("op_send_asset_code", StringType, nullable = true),
    StructField("op_dest_asset_code", StringType, nullable = true),
    StructField("op_send_max", LongType, nullable = true),
    StructField("op_dest_min", LongType, nullable = true),
    StructField("op_result_amount", LongType, nullable = true),
    // manage-offer arms (3 sell / 12 buy / 4 passive-sell, which has no
    // offer id): offer identity, asset pair and the XDR rational price
    StructField("op_offer_id", LongType, nullable = true),
    StructField("op_selling_code", StringType, nullable = true),
    StructField("op_buying_code", StringType, nullable = true),
    StructField("op_price_n", IntegerType, nullable = true),
    StructField("op_price_d", IntegerType, nullable = true),
    // CHANGE_TRUST(6) limit (asset rides in op_asset_code); MANAGE_DATA(10)
    // name + optional value (null value = entry deletion); BUMP_SEQUENCE(11)
    StructField("op_limit", LongType, nullable = true),
    StructField("op_data_name", StringType, nullable = true),
    StructField("op_data_value_hex", StringType, nullable = true),
    StructField("op_bump_to", LongType, nullable = true),
    // SET_OPTIONS(5): nine independent optionals, each null when absent
    StructField("op_inflation_dest_hex", StringType, nullable = true),
    StructField("op_clear_flags", IntegerType, nullable = true),
    StructField("op_set_flags", IntegerType, nullable = true),
    StructField("op_master_weight", IntegerType, nullable = true),
    StructField("op_low_threshold", IntegerType, nullable = true),
    StructField("op_med_threshold", IntegerType, nullable = true),
    StructField("op_high_threshold", IntegerType, nullable = true),
    StructField("op_home_domain", StringType, nullable = true),
    StructField("op_signer_key_hex", StringType, nullable = true),
    StructField("op_signer_weight", IntegerType, nullable = true),
    // ALLOW_TRUST(7) trustor + authorize flag; CLAWBACK(19) from account
    // (assets for both ride in op_asset_code)
    StructField("op_trustor_hex", StringType, nullable = true),
    StructField("op_authorize", IntegerType, nullable = true),
    StructField("op_from_hex", StringType, nullable = true),
    // CREATE_CLAIMABLE_BALANCE(14): claimant destinations (asset rides in
    // op_asset_code; queries render the array via to_json for the gate)
    StructField("op_claimants_hex", ArrayType(StringType, containsNull = false),
      nullable = true),
    // CLAIM(15)/CLAWBACK(20)_CLAIMABLE_BALANCE v0 balance-id hash
    StructField("op_balance_id_hex", StringType, nullable = true),
    // BEGIN_SPONSORING_FUTURE_RESERVES(16) sponsored account
    StructField("op_sponsored_id_hex", StringType, nullable = true),
    // REVOKE_SPONSORSHIP(18): union tag (0 ledger entry / 1 signer), the
    // ledger-entry arm's (type, key), the signer arm's account (its key
    // rides in op_signer_key_hex, mirroring the reference's signer_key
    // detail)
    StructField("op_revoke_type", IntegerType, nullable = true),
    StructField("op_ledger_entry_type", IntegerType, nullable = true),
    StructField("op_ledger_key_hex", StringType, nullable = true),
    StructField("op_signer_account_hex", StringType, nullable = true),
    // SET_TRUST_LINE_FLAGS(21) masks ride in op_clear_flags/op_set_flags,
    // trustor in op_trustor_hex, asset in op_asset_code.
    // LIQUIDITY_POOL_DEPOSIT(22)/WITHDRAW(23): pool id, deposit maximums
    // + price band, withdraw minimums (shares ride in amount)
    StructField("op_pool_id_hex", StringType, nullable = true),
    StructField("op_max_amount_a", LongType, nullable = true),
    StructField("op_max_amount_b", LongType, nullable = true),
    StructField("op_min_amount_a", LongType, nullable = true),
    StructField("op_min_amount_b", LongType, nullable = true),
    StructField("op_min_price_n", IntegerType, nullable = true),
    StructField("op_min_price_d", IntegerType, nullable = true),
    StructField("op_max_price_n", IntegerType, nullable = true),
    StructField("op_max_price_d", IntegerType, nullable = true),
    // INVOKE_HOST_FUNCTION(24): HostFunction union tag + target contract
    // (null for UPLOAD_WASM), the INVOKE_CONTRACT arm's argument vector
    // as raw ScVal XDR blobs (the `serializeParameters` input,
    // `operation.go:584-660`); EXTEND_FOOTPRINT_TTL(25) target
    StructField("op_host_fn_type", IntegerType, nullable = true),
    StructField("op_contract_id_hex", StringType, nullable = true),
    StructField("op_host_fn_params_xdr",
      ArrayType(BinaryType, containsNull = false), nullable = true),
    StructField("op_extend_to", LongType, nullable = true),
    // this op's RESULT ClaimAtoms (grouped by the wire atoms' op_index) —
    // the history_trades grain
    StructField("claim_atoms", ArrayType(ClaimAtomSchema, containsNull = false),
      nullable = false),
    // ManageOfferSuccessResult offer id (offer arms; null = fully consumed
    // or not an offer op — trades fall back to the synthetic id)
    StructField("op_result_offer_id", LongType, nullable = true)))

  val TxSchema: StructType = StructType(Seq(
    StructField("fee_charged", LongType, nullable = false),
    StructField("successful", BooleanType, nullable = false),
    // decoded union arms (Stellar-transaction.x subset): result code,
    // memo, preconditions, fee-bump shell — null when the arm is absent
    StructField("result_code", IntegerType, nullable = false),
    StructField("memo_type", StringType, nullable = false),
    StructField("memo_text", StringType, nullable = true),
    StructField("memo_id", LongType, nullable = true),
    StructField("memo_hash_hex", StringType, nullable = true),
    StructField("precond_type", StringType, nullable = false),
    StructField("time_bound_min", LongType, nullable = true),
    StructField("time_bound_max", LongType, nullable = true),
    StructField("ledger_bound_min", LongType, nullable = true),
    StructField("ledger_bound_max", LongType, nullable = true),
    StructField("min_seq_num", LongType, nullable = true),
    // PreconditionsV2 long tail: age/gap gates and the extraSigners<2>
    // SignerKey union (parallel arrays: tag, opaque[32] key, and — for the
    // ED25519_SIGNED_PAYLOAD arm only — the opaque<64> payload)
    StructField("min_seq_age", LongType, nullable = true),
    StructField("min_seq_ledger_gap", LongType, nullable = true),
    StructField("extra_signer_types",
      ArrayType(IntegerType, containsNull = false), nullable = true),
    StructField("extra_signer_keys_hex",
      ArrayType(StringType, containsNull = false), nullable = true),
    StructField("extra_signer_payloads_hex",
      ArrayType(StringType, containsNull = true), nullable = true),
    StructField("fee_bump_fee", LongType, nullable = true),
    StructField("fee_bump_source_hex", StringType, nullable = true),
    // SorobanTransactionMetaExt v1 fee triple — null for classic txs
    StructField("soroban_fee_nonrefundable", LongType, nullable = true),
    StructField("soroban_fee_refundable", LongType, nullable = true),
    StructField("soroban_fee_rent", LongType, nullable = true),
    // inner-envelope sourceAccount (MuxedAccount union): the ed25519 key
    // and, for the muxed arm, the uint64 sub-account id
    StructField("source_account_hex", StringType, nullable = false),
    StructField("source_muxed_id", LongType, nullable = true),
    // the per-op LedgerEntryChanges subset (TransactionMeta grain): the
    // substrate the reference's change pipeline reads off LedgerCloseMeta;
    // each change carries its op_index
    StructField("changes", ArrayType(ChangeSchema, containsNull = false),
      nullable = false),
    // the FULL operation array — empty for a zero-op transaction (the
    // wire format permits nOps=0)
    StructField("operations", ArrayType(OpSchema, containsNull = false),
      nullable = false),
    // SorobanTransactionMeta.events subset (contract_events grain)
    StructField("contract_events",
      ArrayType(EventSchema, containsNull = false), nullable = false)))

  val Schema: StructType = StructType(Seq(
    StructField("sequence", LongType, nullable = false),
    StructField("closed_at", TimestampType, nullable = false),
    // LedgerHeader subset (Stellar-ledger.x v0/v1 arms): null when the
    // frame is a legacy header-less record
    StructField("protocol_version", IntegerType, nullable = true),
    StructField("prev_ledger_hash_hex", StringType, nullable = true),
    StructField("total_coins", LongType, nullable = true),
    StructField("fee_pool", LongType, nullable = true),
    StructField("base_fee", LongType, nullable = true),
    StructField("base_reserve", LongType, nullable = true),
    StructField("max_tx_set_size", LongType, nullable = true),
    StructField("upgrade_count", IntegerType, nullable = true),
    // v1-arm extras (protocol 20+)
    StructField("bucket_list_size_bytes", LongType, nullable = true),
    StructField("soroban_fee_write1000", LongType, nullable = true),
    StructField("transactions", ArrayType(TxSchema, containsNull = false),
      nullable = false)))

  /** `{start}-{end}.lcmb` → (start, end); None for foreign files. */
  def rangeOf(fileName: String): Option[(Long, Long)] = {
    val m = "^(\\d+)-(\\d+)\\.lcmb$".r
    fileName match {
      case m(a, b) => Some((a.toLong, b.toLong))
      case _ => None
    }
  }
}

class LcmTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft-lcm:$path"
  override def schema(): StructType = LcmDataSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LcmScanBuilder(path)
}

/** Pushdown surface: required-column pruning + `sequence` range filters. */
class LcmScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var requiredSchema: StructType = LcmDataSource.Schema
  private var lo = Long.MinValue
  private var hi = Long.MaxValue
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // TOP-LEVEL pruning only: dropping `transactions` entirely skips the
    // whole tx decode, but a NESTED-pruned element struct would misalign
    // the reader's fixed TxSchema field offsets (Catalyst prunes nested
    // fields under e.g. count-over-explode), so the full struct is
    // restored whenever the array survives
    this.requiredSchema = StructType(requiredSchema.fields.map {
      case f if f.name == "transactions" =>
        f.copy(dataType = ArrayType(LcmDataSource.TxSchema, containsNull = false))
      case f => f
    })

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case GreaterThanOrEqual("sequence", _: java.lang.Number) => true
      case GreaterThan("sequence", _: java.lang.Number) => true
      case LessThanOrEqual("sequence", _: java.lang.Number) => true
      case LessThan("sequence", _: java.lang.Number) => true
      case EqualTo("sequence", _: java.lang.Number) => true
      case _ => false
    }
    accepted.foreach {
      case GreaterThanOrEqual(_, v: java.lang.Number) => lo = lo max v.longValue
      case GreaterThan(_, v: java.lang.Number) => lo = lo max (v.longValue + 1)
      case LessThanOrEqual(_, v: java.lang.Number) => hi = hi min v.longValue
      case LessThan(_, v: java.lang.Number) => hi = hi min (v.longValue - 1)
      case EqualTo(_, v: java.lang.Number) =>
        lo = lo max v.longValue; hi = hi min v.longValue
      case _ =>
    }
    pushed = accepted
    // sequence filters stay in `rejected`? No: file + frame level evaluation
    // is exact for these, so Spark need not re-evaluate them.
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new LcmScan(path, requiredSchema, lo, hi)
}

class LcmScan(path: String, requiredSchema: StructType, lo: Long, hi: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this

  private def hadoopConf =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  override def planInputPartitions(): Array[InputPartition] = {
    // driver-side listing through the Hadoop FS API: the batch directory can
    // live on any scheme the cluster resolves, not just the local disk
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(hadoopConf)
    val files =
      if (fs.exists(dir)) fs.listStatus(dir).toSeq.filter(_.isFile)
      else Seq.empty
    files
      .flatMap(f => LcmDataSource.rangeOf(f.getPath.getName).map(r => (f, r)))
      // file-level range pruning from the name — no bytes read for
      // out-of-range batches
      .filter { case (_, (s, e)) => e >= lo && s <= hi }
      .sortBy(_._2._1)
      .map { case (f, _) =>
        LcmInputPartition(f.getPath.toString): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LcmReaderFactory(requiredSchema, lo, hi,
      new SerializableHadoopConf(hadoopConf))

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LcmMicroBatchStream(path, requiredSchema, lo, hi,
      new SerializableHadoopConf(hadoopConf))
}

case class LcmInputPartition(file: String) extends InputPartition

class LcmReaderFactory(requiredSchema: StructType, lo: Long, hi: Long,
    conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new LcmPartitionReader(
      partition.asInstanceOf[LcmInputPartition].file, requiredSchema, lo, hi,
      conf)
}

/** Streaming offset = the highest ledger sequence fully ingested. The batch
  * layout is an append-only ledger stream (`{start}-{end}.lcmb`, disjoint
  * contiguous ranges), so one monotone sequence watermark identifies every
  * committed frame — the same cursor the reference's unbounded export keeps
  * (`cmd/export_ledger_entry_changes.go:72-89`, end=0 mode). */
case class LcmOffset(endSeq: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"endSeq":$endSeq}"""
}

object LcmOffset {
  private val JsonRe = """\{"endSeq":(-?\d+)\}""".r
  def fromJson(json: String): LcmOffset = json match {
    case JsonRe(v) => LcmOffset(v.toLong)
    case _ => throw new IllegalArgumentException(s"bad LcmOffset json: $json")
  }
}

/** Micro-batch stream over the `.lcmb` batch-file layout: new files arriving
  * in the directory are new ledgers. `latestOffset` is a driver-side listing
  * (file names only — no bytes read); each planned batch covers the ledger
  * range `(start, end]`, and the per-partition reader re-clamps to that
  * range so a file spanning a batch boundary never duplicates frames across
  * retries or restarts. Pushdown bounds from the batch scan (`lo`/`hi`)
  * compose: a bounded stream over a sequence window is just `.where` on
  * `sequence`, same as batch. */
class LcmMicroBatchStream(path: String, requiredSchema: StructType,
    lo: Long, hi: Long, conf: SerializableHadoopConf)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val floor = if (lo == Long.MinValue) -1L else lo - 1

  private def listRanges(): Seq[(String, (Long, Long))] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf.value)
    val files =
      if (fs.exists(dir)) fs.listStatus(dir).toSeq.filter(_.isFile)
      else Seq.empty
    files.flatMap(f =>
      LcmDataSource.rangeOf(f.getPath.getName)
        .map(r => (f.getPath.toString, r)))
  }

  override def initialOffset(): Offset = LcmOffset(floor)

  override def latestOffset(): Offset = {
    val ends = listRanges().map(_._2._2).filter(_ >= floor)
    LcmOffset(if (ends.isEmpty) floor else math.min(ends.max, hi) max floor)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LcmOffset].endSeq
    val e = end.asInstanceOf[LcmOffset].endSeq
    listRanges()
      .filter { case (_, (fs0, fe)) => fe > s && fs0 <= e }
      .sortBy(_._2._1)
      .map { case (f, _) =>
        LcmStreamInputPartition(f, s + 1, e): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LcmStreamReaderFactory(requiredSchema, lo, hi, conf)

  override def deserializeOffset(json: String): Offset = LcmOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class LcmStreamInputPartition(file: String, batchLo: Long, batchHi: Long)
    extends InputPartition

class LcmStreamReaderFactory(requiredSchema: StructType, lo: Long, hi: Long,
    conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LcmStreamInputPartition]
    // intersect the micro-batch's ledger range with the pushdown bounds
    new LcmPartitionReader(p.file, requiredSchema,
      math.max(p.batchLo, lo), math.min(p.batchHi, hi), conf)
  }
}

/** Streams length-prefixed frames; decodes only the required columns. */
class LcmPartitionReader(file: String, requiredSchema: StructType,
    lo: Long, hi: Long, conf: SerializableHadoopConf)
    extends PartitionReader[InternalRow] {
  private val in = {
    val p = new org.apache.hadoop.fs.Path(file)
    val s = new java.io.DataInputStream(
      new java.io.BufferedInputStream(p.getFileSystem(conf.value).open(p), 1 << 16))
    // fail fast on unversioned/foreign files and layout-version drift —
    // the frame layout is not self-describing, so decoding a stale file
    // would otherwise surface as garbage rows or BufferUnderflow deep in
    // the codec with no hint of the cause
    val magic = try s.readInt() catch {
      case _: java.io.EOFException =>
        throw new java.io.IOException(s"$file: empty or truncated .lcmb file")
    }
    if (magic != graft.codec.Lcm.LcmbMagic)
      throw new java.io.IOException(
        s"$file: not a versioned .lcmb file (bad magic 0x${magic.toHexString}); " +
          "files written before the format header was introduced must be " +
          "regenerated with the current writer")
    val ver = s.readInt()
    if (ver != graft.codec.Lcm.LcmbVersion)
      throw new java.io.IOException(
        s"$file: .lcmb format version $ver, this reader requires " +
          s"${graft.codec.Lcm.LcmbVersion}; regenerate the batch files " +
          "(the frame layout changed incompatibly)")
    s
  }
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      val len = try in.readInt() catch { case _: java.io.EOFException => return false }
      val payload = new Array[Byte](len)
      in.readFully(payload)
      val buf = java.nio.ByteBuffer.wrap(payload) // XDR is big-endian
      val meta = graft.codec.Lcm.decodeMeta(buf)
      val seq = meta.sequence
      if (seq >= lo && seq <= hi) {
        def hexStr(b: Seq[Byte]): Any =
          UTF8String.fromString(graft.codec.Hashes.hex(b.toArray))
        val values = requiredSchema.fieldNames.map {
          case "sequence" => seq: Any
          case "closed_at" => meta.closedAtEpochMs * 1000L: Any // epoch micros
          case "protocol_version" =>
            meta.header.map(h => Int.box(h.protocolVersion)).orNull: Any
          case "prev_ledger_hash_hex" =>
            meta.header.map(h => hexStr(h.previousLedgerHash)).orNull: Any
          case "total_coins" =>
            meta.header.map(h => Long.box(h.totalCoins)).orNull: Any
          case "fee_pool" =>
            meta.header.map(h => Long.box(h.feePool)).orNull: Any
          case "base_fee" =>
            meta.header.map(h => Long.box(h.baseFee)).orNull: Any
          case "base_reserve" =>
            meta.header.map(h => Long.box(h.baseReserve)).orNull: Any
          case "max_tx_set_size" =>
            meta.header.map(h => Long.box(h.maxTxSetSize)).orNull: Any
          case "upgrade_count" =>
            meta.header.map(_ => Int.box(meta.upgrades.size)).orNull: Any
          case "bucket_list_size_bytes" =>
            meta.bucketListSizeBytes.map(Long.box).orNull: Any
          case "soroban_fee_write1000" =>
            meta.sorobanFeeWrite1000.map(Long.box).orNull: Any
          case "transactions" =>
            val txs = graft.codec.Lcm.decodeTxs(buf)
            new GenericArrayData(txs.map(LcmRows.txRow).toArray[Any]): Any
          case other => throw new IllegalStateException(s"unknown column $other")
        }
        current = new GenericInternalRow(values)
        return true
      }
      // frame out of range: skip without decoding the tx array
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

/** Positional `InternalRow` builders for the wire schema, shared by the
  * batch and streaming readers. The value arrays MUST match the
  * [[LcmDataSource.OpSchema]] / [[LcmDataSource.TxSchema]] field order —
  * the reader fills rows positionally, not by name. One tx row carries the
  * FULL operation array (the wire declares `nOps ×` ops and the reference's
  * op grain is `(tx, op-index)`, `internal/input/operations.go:58-65`);
  * each op element groups the RESULT ClaimAtoms tagged with its index. */
private[sources] object LcmRows {
  import graft.codec.Lcm._

  private def hex(b: Seq[Byte]): Any =
    UTF8String.fromString(graft.codec.Hashes.hex(b.toArray))
  private def utf8(s: String): Any = UTF8String.fromString(s)

  def atomRow(ca: WireClaimAtom): InternalRow =
    new GenericInternalRow(Array[Any](
      ca.opIndex, ca.isPool, hex(ca.sellerOrPoolId),
      ca.offerId, utf8(ca.soldCode), ca.soldAmount,
      utf8(ca.boughtCode), ca.boughtAmount))

  def eventRow(ev: WireContractEvent): InternalRow =
    new GenericInternalRow(Array[Any](
      ev.opIndex, ev.eventType, hex(ev.contractId),
      new GenericArrayData(ev.topics.map(_.toArray).toArray[Any]),
      ev.data.toArray))

  def changeRow(c: WireChange): InternalRow = {
    val isOffer = c.entryType == 2
    val isPool = c.entryType == 5
    // offer changes with no pre state (CREATED) carry 0/0 on the wire →
    // null price columns, mirroring the reference's `change.Pre == nil`
    val hasPrePrice = isOffer && c.prePriceD != 0
    new GenericInternalRow(Array[Any](
      c.kind, c.entryType, c.opIndex, hex(c.keyHash),
      c.lastModified, c.balance,
      if (isOffer) Long.box(c.offerId) else null,
      if (hasPrePrice) Int.box(c.prePriceN) else null,
      if (hasPrePrice) Int.box(c.prePriceD) else null,
      if (isPool) Long.box(c.preReserveA) else null,
      if (isPool) Long.box(c.preReserveB) else null,
      if (isPool) Long.box(c.preShares) else null,
      if (isPool) Long.box(c.postReserveA) else null,
      if (isPool) Long.box(c.postReserveB) else null,
      if (isPool) Long.box(c.postShares) else null,
      if (isPool) Int.box(c.poolFee) else null,
      c.poolId.map(hex).orNull,
      c.preSponsor.map(hex).orNull,
      c.postSponsor.map(hex).orNull,
      if (c.entryType == 0)
        new GenericArrayData(c.preSignerSponsors.map { case (k, s) =>
          new GenericInternalRow(Array[Any](hex(k), hex(s)))
        }.toArray[Any])
      else null,
      if (c.entryType == 0)
        new GenericArrayData(c.postSignerSponsors.map { case (k, s) =>
          new GenericInternalRow(Array[Any](hex(k), hex(s)))
        }.toArray[Any])
      else null))
  }

  def opRow(op: Op, atoms: Seq[WireClaimAtom]): InternalRow = {
    val opDest = op.detail match {
      case OpCreateAccount(d) => hex(d)
      case OpPayment(d, _) => hex(d)
      case p: OpPathPaymentStrictReceive => hex(p.destination)
      case p: OpPathPaymentStrictSend => hex(p.destination)
      case m: OpAccountMerge => hex(m.destination)
      case _ => null
    }
    val opAsset = op.detail match {
      case OpPayment(_, c) => utf8(c)
      case ct: OpChangeTrust => utf8(ct.assetCode)
      case at: OpAllowTrust => utf8(at.assetCode)
      case cb: OpClawback => utf8(cb.assetCode)
      case cc: OpCreateClaimableBalance => utf8(cc.assetCode)
      case tf: OpSetTrustLineFlags => utf8(tf.assetCode)
      case _ => null
    }
    // path-payment columns: (send code, dest code, sendMax, destMin,
    // result-carried actual amount)
    val (ppSend, ppDest, ppMax, ppMin, ppGot): (Any, Any, Any, Any, Any) =
      op.detail match {
        case p: OpPathPaymentStrictReceive =>
          (utf8(p.sendAssetCode), utf8(p.destAssetCode),
            Long.box(p.sendMax), null, Long.box(p.resultSendAmount))
        case p: OpPathPaymentStrictSend =>
          (utf8(p.sendAssetCode), utf8(p.destAssetCode),
            null, Long.box(p.destMin), Long.box(p.resultDestAmount))
        case _ => (null, null, null, null, null)
      }
    // manage-offer columns: (offerId, selling, buying, priceN, priceD,
    // RESULT-carried offer id — the ManageOfferSuccessResult field the
    // reference's trades prefer over the synthetic fallback)
    val (offId, offSell, offBuy, offN, offD, offResId):
        (Any, Any, Any, Any, Any, Any) =
      op.detail match {
        case o: OpManageSellOffer =>
          (Long.box(o.offerId), utf8(o.sellingCode),
            utf8(o.buyingCode), Int.box(o.priceN), Int.box(o.priceD),
            o.resultOfferId.map(Long.box).orNull)
        case o: OpManageBuyOffer =>
          (Long.box(o.offerId), utf8(o.sellingCode),
            utf8(o.buyingCode), Int.box(o.priceN), Int.box(o.priceD),
            o.resultOfferId.map(Long.box).orNull)
        case o: OpCreatePassiveSellOffer =>
          // passive offers have no id — the column stays null
          (null, utf8(o.sellingCode), utf8(o.buyingCode),
            Int.box(o.priceN), Int.box(o.priceD),
            o.resultOfferId.map(Long.box).orNull)
        case _ => (null, null, null, null, null, null)
      }
    // change-trust limit / manage-data name+value / bump target
    val (ctLimit, mdName, mdValue, bumpTo): (Any, Any, Any, Any) =
      op.detail match {
        case ct: OpChangeTrust => (Long.box(ct.limit), null, null, null)
        case md: OpManageData =>
          (null, utf8(md.name), md.value.map(hex).orNull, null)
        case b: OpBumpSequence => (null, null, null, Long.box(b.bumpTo))
        case _ => (null, null, null, null)
      }
    // SET_OPTIONS: nine optionals, each independently nullable.
    // SET_TRUST_LINE_FLAGS reuses the clear/set flag columns and
    // REVOKE_SPONSORSHIP's signer arm the signer-key column — the same
    // detail-key sharing the reference's flat details map does
    // (set_flags / signer_key across op types).
    val soCols: Array[Any] = op.detail match {
      case so: OpSetOptions => Array[Any](
        so.inflationDest.map(hex).orNull,
        so.clearFlags.map(Int.box).orNull,
        so.setFlags.map(Int.box).orNull,
        so.masterWeight.map(Int.box).orNull,
        so.lowThreshold.map(Int.box).orNull,
        so.medThreshold.map(Int.box).orNull,
        so.highThreshold.map(Int.box).orNull,
        so.homeDomain.map(utf8).orNull,
        so.signer.map(s => hex(s._1)).orNull,
        so.signer.map(s => Int.box(s._2)).orNull)
      case tf: OpSetTrustLineFlags =>
        val a = Array.fill[Any](10)(null)
        a(1) = Int.box(tf.clearFlags)
        a(2) = Int.box(tf.setFlags)
        a
      case OpRevokeSponsorship(None, Some((_, key))) =>
        val a = Array.fill[Any](10)(null)
        a(8) = hex(key)
        a
      case _ => Array.fill[Any](10)(null)
    }
    // allow-trust trustor+authorize / clawback from /
    // set-trust-line-flags trustor
    val (trustor, authorize, fromHex): (Any, Any, Any) =
      op.detail match {
        case at: OpAllowTrust => (hex(at.trustor), Int.box(at.authorize), null)
        case cb: OpClawback => (null, null, hex(cb.from))
        case tf: OpSetTrustLineFlags => (hex(tf.trustor), null, null)
        case _ => (null, null, null)
      }
    // claimable-balance arms: claimant list / balance ids
    val claimants: Any = op.detail match {
      case cc: OpCreateClaimableBalance =>
        new GenericArrayData(cc.claimants.map(hex).toArray[Any])
      case _ => null
    }
    val (balanceId, sponsoredId): (Any, Any) = op.detail match {
      case c: OpClaimClaimableBalance => (hex(c.balanceId), null)
      case c: OpClawbackClaimableBalance => (hex(c.balanceId), null)
      case b: OpBeginSponsoringFutureReserves => (null, hex(b.sponsoredId))
      case _ => (null, null)
    }
    // revoke-sponsorship union: tag + per-arm columns
    val (revokeType, leType, leKey, signerAcct): (Any, Any, Any, Any) =
      op.detail match {
        case OpRevokeSponsorship(Some((et, key)), _) =>
          (Int.box(0), Int.box(et), hex(key), null)
        case OpRevokeSponsorship(None, Some((acct, _))) =>
          (Int.box(1), null, null, hex(acct))
        case _ => (null, null, null, null)
      }
    // liquidity-pool arms: (poolId, maxA, maxB, minA, minB, minPriceN,
    // minPriceD, maxPriceN, maxPriceD)
    val lpCols: Array[Any] = op.detail match {
      case d: OpLiquidityPoolDeposit => Array[Any](
        hex(d.poolId), Long.box(d.maxAmountA), Long.box(d.maxAmountB),
        null, null,
        Int.box(d.minPriceN), Int.box(d.minPriceD),
        Int.box(d.maxPriceN), Int.box(d.maxPriceD))
      case w: OpLiquidityPoolWithdraw => Array[Any](
        hex(w.poolId), null, null,
        Long.box(w.minAmountA), Long.box(w.minAmountB),
        null, null, null, null)
      case _ => Array.fill[Any](9)(null)
    }
    // soroban host arms: host-fn tag + contract + invoke args / ttl
    // extension
    val (hostFnType, contractId, hostFnParams, extendTo):
        (Any, Any, Any, Any) =
      op.detail match {
        case ih: OpInvokeHostFunction =>
          (Int.box(ih.hostFnType), ih.contractId.map(hex).orNull,
            if (ih.hostFnType == 0)
              new GenericArrayData(ih.params.map(_.toArray).toArray[Any])
            else null,
            null)
        case e: OpExtendFootprintTtl =>
          (null, null, null, Long.box(e.extendTo))
        case _ => (null, null, null, null)
      }
    new GenericInternalRow(Array[Any](
      op.opType, op.amountStroops,
      op.sourceKey.map(hex).orNull,
      opDest, opAsset,
      ppSend, ppDest, ppMax, ppMin, ppGot,
      offId, offSell, offBuy, offN, offD,
      ctLimit, mdName, mdValue, bumpTo) ++ soCols ++ Array[Any](
      trustor, authorize, fromHex,
      claimants, balanceId, sponsoredId,
      revokeType, leType, leKey, signerAcct) ++ lpCols ++ Array[Any](
      hostFnType, contractId, hostFnParams, extendTo,
      new GenericArrayData(atoms.map(atomRow).toArray[Any]),
      offResId))
  }

  def txRow(t: Tx): InternalRow = {
    val (memoType, memoText, memoId, memoHash): (String, Any, Any, Any) =
      t.memo match {
        case MemoNone => ("none", null, null, null)
        case MemoText(s) => ("text", utf8(s), null, null)
        case MemoId(id) => ("id", null, Long.box(id), null)
        case MemoHash(h) => ("hash", null, null, hex(h))
        case MemoReturn(h) => ("return", null, null, hex(h))
      }
    val (condType, tMin, tMax, lMin, lMax, minSeq,
        seqAge, seqGap, sigTypes, sigKeys, sigPayloads):
        (String, Any, Any, Any, Any, Any, Any, Any, Any, Any, Any) =
      t.cond match {
        case PrecondNone =>
          ("none", null, null, null, null, null,
            null, null, null, null, null)
        case PrecondTime(tb) =>
          ("time", Long.box(tb.minTime), Long.box(tb.maxTime),
            null, null, null, null, null, null, null, null)
        case PrecondV2(time, ledger, ms, age, gap, signers) =>
          ("v2",
            time.map(x => Long.box(x.minTime)).orNull,
            time.map(x => Long.box(x.maxTime)).orNull,
            ledger.map(x => Long.box(x.minLedger)).orNull,
            ledger.map(x => Long.box(x.maxLedger)).orNull,
            ms.map(Long.box).orNull,
            Long.box(age), Long.box(gap),
            new GenericArrayData(
              signers.map(s => Int.box(s.tag)).toArray[Any]),
            new GenericArrayData(
              signers.map(s => hex(s.key)).toArray[Any]),
            new GenericArrayData(signers.map {
              case SignerEd25519SignedPayload(_, p) => hex(p)
              case _ => null
            }.toArray[Any]))
      }
    new GenericInternalRow(Array[Any](
      t.feeCharged, t.successful, t.resultCode,
      UTF8String.fromString(memoType), memoText, memoId, memoHash,
      UTF8String.fromString(condType), tMin, tMax, lMin, lMax, minSeq,
      seqAge, seqGap, sigTypes, sigKeys, sigPayloads,
      t.feeBump.map(fb => Long.box(fb.fee)).orNull,
      t.feeBump.map(fb => hex(fb.feeSourceKey)).orNull,
      t.sorobanMeta.map(m => Long.box(m.nonRefundableFeeCharged)).orNull,
      t.sorobanMeta.map(m => Long.box(m.refundableFeeCharged)).orNull,
      t.sorobanMeta.map(m => Long.box(m.rentFeeCharged)).orNull,
      hex(t.sourceKey),
      t.sourceMuxedId.map(Long.box).orNull,
      new GenericArrayData(t.changes.map(changeRow).toArray[Any]),
      new GenericArrayData(t.ops.zipWithIndex.map { case (op, u) =>
        opRow(op, t.claimAtoms.filter(_.opIndex == u))
      }.toArray[Any]),
      new GenericArrayData(t.contractEvents.map(eventRow).toArray[Any])))
  }
}


/** Batch-file writer for the `.lcmb` format (fixture export + tests):
  * length-prefixed [[graft.codec.Lcm]] XDR frames. */
object LcmWriter {
  import graft.codec.Lcm

  def write(dir: String, ledgers: Seq[(Long, Long, Seq[Lcm.Tx])],
      batchSize: Int = 64): Seq[String] =
    writeFrames(dir,
      ledgers.map { case (seq, closedAtMs, txs) => Lcm.Frame(seq, closedAtMs, txs) },
      batchSize)

  def writeFrames(dir: String, frames: Seq[Lcm.Frame],
      batchSize: Int = 64): Seq[String] = {
    val d = new java.io.File(dir)
    d.mkdirs()
    frames.sortBy(_.sequence).grouped(batchSize).map { batch =>
      val start = batch.head.sequence
      val end = batch.last.sequence
      val f = new java.io.File(d, s"$start-$end.lcmb")
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(new java.io.FileOutputStream(f)))
      out.writeInt(Lcm.LcmbMagic)
      out.writeInt(Lcm.LcmbVersion)
      batch.foreach { frame =>
        val bytes = Lcm.encode(frame)
        out.writeInt(bytes.length)
        out.write(bytes)
      }
      out.close()
      f.getAbsolutePath
    }.toSeq
  }

  private def sha(s: String): Seq[Byte] =
    graft.codec.Hashes.sha256(s.getBytes("UTF-8")).toSeq

  /** The deterministic per-ledger tx laws the fixture encodes and the
    * DuckDB oracles re-derive (`src_lcm_range_scan`, `src_lcm_tx_decode`,
    * `src_archive_range_scan`): tx t of ledger seq fails iff t%3==0 (its
    * result code walking the FULL enum tail, -(1 + (seq+t)%17)), rides a
    * fee-bump shell iff t%4==1 (result code then txFEE_BUMP_INNER_SUCCESS),
    * carries memo arm t%5, precondition arm (seq+t)%3 — the V2 arm with
    * age/gap gates and t%3 extraSigners cycling the SignerKey union — and
    * a soroban fee triple iff (seq+t)%2==0. Each envelope carries
    * (seq+t)%3+1 operations (multi-op, so the oracles check op-grain
    * cardinality); op u is typed opType=(seq+t+u)%27 with detail laws
    * keyed (seq,t): CREATE_ACCOUNT(0)/PAYMENT(1)/ACCOUNT_MERGE(8)
    * destinations, path-payment arms (2/13) with affine bounds and
    * result-carried actual amounts, offer arms (3/12 with offer ids, 4
    * without) with rational prices, SET_OPTIONS(5) with each optional
    * present on its own parity law, CHANGE_TRUST(6) limits,
    * ALLOW_TRUST(7) trustor+authorize, MANAGE_DATA(10) name +
    * value-present-iff-(seq+t)%3≠0, BUMP_SEQUENCE(11) targets,
    * CLAWBACK(19) from-accounts, CREATE_CLAIMABLE_BALANCE(14) with
    * (t%2)+1 claimants, CLAIM(15)/CLAWBACK(20)_CLAIMABLE_BALANCE ids,
    * BEGIN_SPONSORING(16) sponsored accounts, REVOKE_SPONSORSHIP(18)
    * alternating union arms on (seq+t)%2, SET_TRUST_LINE_FLAGS(21)
    * masks, LIQUIDITY_POOL deposit(22)/withdraw(23) bounds + price
    * bands, INVOKE_HOST_FUNCTION(24) cycling the four HostFunction
    * arms, and EXTEND_FOOTPRINT_TTL(25) targets (`src_lcm_op_decode`
    * re-derives all of them; 9/17/26 stay wire-exact VOID). */
  def fixtureTxs(seq: Long): Seq[Lcm.Tx] = {
    val nTx = ((seq % 5) + 1).toInt
    (0 until nTx).map { t =>
      val ok = t % 3 != 0
      val feeBump =
        if (t % 4 == 1) Some(Lcm.FeeBump(sha(s"fb-$seq-$t"), 500L + t)) else None
      val rc =
        if (!ok) -(1L + (seq + t) % 17).toInt
        else if (feeBump.isDefined) Lcm.TxFeeBumpInnerSuccess
        else Lcm.TxSuccess
      val memo = (t % 5) match {
        case 0 => Lcm.MemoNone
        case 1 => Lcm.MemoText(s"m-$seq-$t")
        case 2 => Lcm.MemoId(seq * 16 + t)
        case 3 => Lcm.MemoHash(sha(s"mh-$seq-$t"))
        case 4 => Lcm.MemoReturn(sha(s"mr-$seq-$t"))
      }
      val cond = ((seq + t) % 3) match {
        case 0 => Lcm.PrecondNone
        case 1 => Lcm.PrecondTime(
          Lcm.TimeBounds(1700000000L + seq, 1700003600L + seq + t))
        case _ => Lcm.PrecondV2(
          if (t % 2 == 0)
            Some(Lcm.TimeBounds(1700000000L + seq, 1700007200L + seq + t))
          else None,
          Some(Lcm.LedgerBounds(math.max(seq - 64, 0), seq + 64)),
          if (t % 3 == 0) Some(seq * 4096 + t) else None,
          minSeqAge = (seq % 7) * 100 + t,
          minSeqLedgerGap = (seq + t) % 5,
          extraSigners = (0 until (t % 3)).map { j =>
            val key = sha(s"es-$seq-$t-$j")
            ((seq + t + j) % 4) match {
              case 0 => Lcm.SignerEd25519(key)
              case 1 => Lcm.SignerPreAuthTx(key)
              case 2 => Lcm.SignerHashX(key)
              case _ => Lcm.SignerEd25519SignedPayload(key,
                s"pl-$seq-$t-$j".getBytes("UTF-8").toSeq)
            }
          })
      }
      val soroban =
        if ((seq + t) % 2 == 0)
          Some(Lcm.SorobanMeta(1000L + seq, 500L + t, seq % 9 + 10L * t))
        else None
      // ops per envelope: (seq + t) % 3 + 1 — multi-op is the norm on the
      // real network (TOID reserves 12 bits for the op index,
      // `internal/toid/main.go:37-47`); op u is typed (seq + t + u) % 27
      // and its detail laws stay keyed (seq, t), so the DuckDB oracles
      // re-derive every field per (seq, t, u)
      val nOps = ((seq + t) % 3 + 1).toInt
      val codes = Seq("XLM", "USDC", "EURC")
      def detailFor(opType: Int): Lcm.OpDetail = opType match {
        case 0 => Lcm.OpCreateAccount(sha(s"dst-$seq-$t"))
        case 1 => Lcm.OpPayment(sha(s"dst-$seq-$t"), codes((seq % 3).toInt))
        // path arms: envelope bound + result-carried actual amount, both
        // affine in (seq, t) so the oracle re-derives them exactly
        case 2 => Lcm.OpPathPaymentStrictReceive(sha(s"dst-$seq-$t"),
          codes((seq % 3).toInt), codes(((seq + 1) % 3).toInt),
          sendMax = 2000000L * (t + 1) + seq % 97,
          resultSendAmount = 1500000L * (t + 1) + seq % 53)
        case 13 => Lcm.OpPathPaymentStrictSend(sha(s"dst-$seq-$t"),
          codes(((seq + 2) % 3).toInt), codes((seq % 3).toInt),
          destMin = 800000L * (t + 1) + seq % 89,
          resultDestAmount = 900000L * (t + 1) + seq % 59)
        // result-carried offer id on every second (seq+t): partially
        // filled offers keep their result id; the other half is fully
        // consumed (None) and the trades law falls back to the synthetic
        case 3 => Lcm.OpManageSellOffer(offerId = seq * 10 + t,
          sellingCode = codes((seq % 3).toInt),
          buyingCode = codes(((seq + 2) % 3).toInt),
          priceN = (seq % 9 + 1).toInt, priceD = (t % 7 + 1).toInt,
          resultOfferId = if ((seq + t) % 2 == 0)
            Some(seq * 500 + t * 20 + 3) else None)
        case 12 => Lcm.OpManageBuyOffer(offerId = seq * 10 + t + 1,
          sellingCode = codes(((seq + 1) % 3).toInt),
          buyingCode = codes((seq % 3).toInt),
          priceN = (t % 5 + 1).toInt, priceD = (seq % 11 + 1).toInt,
          resultOfferId = if ((seq + t) % 2 == 0)
            Some(seq * 500 + t * 20 + 12) else None)
        case 4 => Lcm.OpCreatePassiveSellOffer(
          sellingCode = codes((seq % 3).toInt),
          buyingCode = codes(((seq + 1) % 3).toInt),
          priceN = (t % 9 + 1).toInt, priceD = (seq % 13 + 1).toInt,
          resultOfferId = if ((seq + t) % 2 == 0)
            Some(seq * 500 + t * 20 + 4) else None)
        case 6 => Lcm.OpChangeTrust(codes(((seq + t) % 3).toInt),
          limit = 5000000L * (t + 1) + seq % 101)
        case 8 => Lcm.OpAccountMerge(sha(s"dst-$seq-$t"))
        case 10 => Lcm.OpManageData(s"cfg-${seq % 19}-$t",
          if ((seq + t) % 3 != 0)
            Some(s"val-$seq-$t".getBytes("UTF-8").toSeq)
          else None)
        case 11 => Lcm.OpBumpSequence(seq * 8 + t + 7)
        case 5 => Lcm.OpSetOptions(
          inflationDest = if (t % 2 == 0) Some(sha(s"inf-$seq-$t")) else None,
          clearFlags = if (seq % 2 == 0) Some((seq % 16).toInt) else None,
          setFlags = if (seq % 2 == 1) Some(((seq + 1) % 16).toInt) else None,
          masterWeight = if (t % 3 == 0) Some(((seq + t) % 256).toInt) else None,
          lowThreshold = if (seq % 3 == 0) Some((seq % 255).toInt) else None,
          medThreshold = if (seq % 3 == 0) Some(((seq + 1) % 255).toInt) else None,
          highThreshold = if (seq % 3 == 0) Some(((seq + 2) % 255).toInt) else None,
          homeDomain = if (t % 2 == 1) Some(s"dom-${seq % 23}.example") else None,
          signer = if ((seq + t) % 2 == 1)
            Some((sha(s"sg-$seq-$t"), ((seq + t) % 256).toInt)) else None)
        case 7 => Lcm.OpAllowTrust(sha(s"tr-$seq-$t"),
          codes(((seq + t) % 3).toInt), authorize = ((seq + t) % 3).toInt)
        case 19 => Lcm.OpClawback(codes((seq % 3).toInt), sha(s"cb-$seq-$t"))
        case 14 => Lcm.OpCreateClaimableBalance(codes(((seq + t) % 3).toInt),
          claimants = (0 to (t % 2)).map(j => sha(s"cl-$seq-$t-$j")))
        case 15 => Lcm.OpClaimClaimableBalance(sha(s"bal-$seq-$t"))
        case 20 => Lcm.OpClawbackClaimableBalance(sha(s"bal-$seq-$t"))
        case 16 => Lcm.OpBeginSponsoringFutureReserves(sha(s"sp-$seq-$t"))
        case 18 =>
          if ((seq + t) % 2 == 0)
            Lcm.OpRevokeSponsorship(
              Some(((seq % 4).toInt, sha(s"lk-$seq-$t"))), None)
          else
            Lcm.OpRevokeSponsorship(None,
              Some((sha(s"sa-$seq-$t"), sha(s"sk-$seq-$t"))))
        case 21 => Lcm.OpSetTrustLineFlags(sha(s"tr-$seq-$t"),
          codes(((seq + t) % 3).toInt),
          clearFlags = (seq % 8).toInt, setFlags = ((seq + 1) % 8).toInt)
        case 22 => Lcm.OpLiquidityPoolDeposit(sha(s"lp-$seq-$t"),
          maxAmountA = 3000000L * (t + 1) + seq % 71,
          maxAmountB = 4000000L * (t + 1) + seq % 73,
          minPriceN = (seq % 7 + 1).toInt, minPriceD = (t % 5 + 1).toInt,
          maxPriceN = (seq % 9 + 2).toInt, maxPriceD = (t % 3 + 1).toInt)
        case 23 => Lcm.OpLiquidityPoolWithdraw(sha(s"lp-$seq-$t"),
          minAmountA = 600000L * (t + 1) + seq % 67,
          minAmountB = 700000L * (t + 1) + seq % 61)
        case 24 =>
          // INVOKE_CONTRACT (fnType 0) carries its ScVal argument vector:
          // a function-name symbol, a u64 counter, and (odd t) an i128
          // amount — every byte affine in (seq, t) so the oracle
          // reconstructs the exact XDR base64 (`serializeParameters`)
          val fnType = ((seq + t) % 4).toInt
          val fnNames = Seq("init", "transfer", "swap")
          Lcm.OpInvokeHostFunction(fnType,
            if (fnType == 2) None else Some(sha(s"ct-$seq-$t")),
            params = if (fnType != 0) Nil
              else Seq(
                graft.codec.ScVal.encode(graft.codec.ScVal.Sym(
                  fnNames(((seq + t) % 3).toInt))).toSeq,
                graft.codec.ScVal.encode(graft.codec.ScVal.U64(
                  seq * 3 + t)).toSeq) ++
                (if (t % 2 == 1)
                  Seq(graft.codec.ScVal.encode(graft.codec.ScVal.I128(
                    0L, 50000L * (t + 1) + seq % 83)).toSeq)
                else Nil))
        case 25 => Lcm.OpExtendFootprintTtl(100000L + (seq * 3 + t) % 50000)
        case _ => Lcm.OpGeneric
      }
      // the operation vector: nOps ops, typed (seq + t + u) % 27; every
      // fifth tx's ops act under their own source account
      val ops = (0 until nOps).map { u =>
        val opType = ((seq + t + u) % 27).toInt
        Lcm.Op(opType, 1000000L * (t + 1), detailFor(opType),
          sourceKey = if ((seq + t) % 5 == 0) Some(sha(s"osrc-$seq-$t"))
                      else None)
      }
      // the per-tx change laws (all affine, DuckDB-re-derivable): 1-2
      // changes per tx, each tagged with a REAL op index (j mod nOps); key
      // ids cycle mod 101 so the same ledger key repeats across ledgers —
      // latest-per-key compaction is non-trivial
      val changes = (0 until (1 + ((seq + t) % 2)).toInt).map { j =>
        val kind = ((seq + t + j) % 3).toInt
        val entryType = ((seq + j) % 10).toInt
        // entry-type-discriminated pre/post laws (affine, oracle-visible):
        //  - OFFER changes carry the SAME offer-id law as the claim atoms
        //    (seq*100 + t*10 + j), so an atom finds its pre-state price
        //    change exactly when the indices line up — both the matched
        //    (pre-state price) and unmatched (fallback ratio) arms of the
        //    trade pricing law stay on the wire; CREATED offers carry 0/0
        //    (no pre state, `change.Pre == nil`)
        //  - LIQUIDITY_POOL changes carry constant-product pre/post with
        //    signed post−pre deltas (the reference's delta law input)
        //  - every third created change is sponsored
        val isOffer = entryType == 2
        val hasPre = kind != 0
        val isPool = entryType == 5
        Lcm.WireChange(
          kind = kind,
          entryType = entryType,
          opIndex = (j % nOps),
          keyHash = sha(s"ck-${(seq * 3 + t * 7 + j * 11) % 101}"),
          lastModified = seq,
          balance = 1000000L + seq * 3 + t * 17 + j * 29,
          offerId = if (isOffer) seq * 100 + t * 10 + j else 0L,
          prePriceN = if (isOffer && hasPre) (seq % 9 + 1 + j).toInt else 0,
          prePriceD = if (isOffer && hasPre) ((t % 7) + 1 + j).toInt else 0,
          preReserveA = if (isPool) 10000000L + seq * 5 + t * 3 + j else 0L,
          preReserveB = if (isPool) 20000000L + seq * 7 + t * 5 + j else 0L,
          preShares = if (isPool) 1000000L + seq * 2 + t else 0L,
          postReserveA =
            if (isPool) 10000000L + seq * 5 + t * 3 + j +
              (seq + t + j) % 2001 - 1000 else 0L,
          postReserveB =
            if (isPool) 20000000L + seq * 7 + t * 5 + j +
              (seq * 3 + t + j) % 2001 - 1000 else 0L,
          postShares =
            if (isPool) 1000000L + seq * 2 + t +
              (seq + t * 2 + j) % 201 - 100 else 0L,
          poolFee = if (isPool) (10 + (seq + t) % 90).toInt else 0,
          // pool id shares the claim atoms' seller/pool law, so an LP atom
          // finds its pool's pre-state change exactly when indices align
          // (the findPoolFee match-by-LiquidityPoolId coverage)
          poolId = if (isPool) Some(sha(s"se-$seq-$t-$j")) else None,
          // sponsor-pair laws (the sponsorship-effect substrate): the post
          // sponsor keeps the round-11 creation law on kind 0 (so the
          // getSponsor oracle is unchanged) and extends it to kind 1; the
          // pre sponsor cycles present-same / present-different / absent on
          // (2·seq+t+j)%3 — its offset from the kind law is seq mod 3,
          // which spans all residues even under the t%3≠0 success filter,
          // so all four classification arms — created, updated, removed,
          // unchanged-skip — ride the wire
          preSponsor =
            if (kind != 0 && (2 * seq + t + j) % 3 == 0)
              Some(sha(s"chsp-$seq-$t-$j"))
            else if (kind != 0 && (2 * seq + t + j) % 3 == 1)
              Some(sha(s"chspp-$seq-$t-$j"))
            else None,
          postSponsor = if (kind != 2 && (seq + 2 * t + j) % 2 == 0)
            Some(sha(s"chsp-$seq-$t-$j")) else None,
          // ACCOUNT signer→sponsor maps: 0-2 signers per side (counts on
          // independent parities so pre-only/post-only/both arms all ride
          // the wire), sponsor values agreeing or differing per the m
          // parity laws — the signer-sponsorship 72/73/74 substrate
          preSignerSponsors =
            if (kind != 0 && entryType == 0)
              (0 until ((seq + t + j) % 3).toInt).map(m =>
                (sha(s"sg-$seq-$t-$j-$m"),
                  sha(s"sgsp-$seq-$t-$j-$m-${(seq + t + m) % 2}")))
            else Nil,
          postSignerSponsors =
            if (kind != 2 && entryType == 0)
              (0 until ((seq + 2 * t + j) % 3).toInt).map(m =>
                (sha(s"sg-$seq-$t-$j-$m"),
                  sha(s"sgsp-$seq-$t-$j-$m-${(2 * seq + t + m) % 2}")))
            else Nil)
      }
      // RESULT claim atoms ride only the trade-shaped arms (both path
      // payments + both manage offers), 1-2 per such OP, tagged with the
      // op's real index; every fourth atom is the LP arm (offerId 0).
      // All value laws affine in (seq, t, j)
      val claimAtoms = ops.zipWithIndex.flatMap { case (op, u) =>
        if (!Seq(2, 3, 12, 13).contains(op.opType)) Nil
        else (0 until (1 + ((seq + t) % 2)).toInt).map { j =>
          val pool = (seq + t + j) % 4 == 0
          Lcm.WireClaimAtom(
            opIndex = u, isPool = pool,
            sellerOrPoolId = sha(s"se-$seq-$t-$j"),
            offerId = if (pool) 0L else seq * 100 + t * 10 + j,
            soldCode = codes(((seq + j) % 3).toInt),
            soldAmount = 500000L * (t + 1) + seq % 43 + j,
            boughtCode = codes(((seq + j + 1) % 3).toInt),
            boughtAmount = 600000L * (t + 1) + seq % 47 + j)
        }
      }
      // contract events ride soroban txs only ((seq+t) even, the soroban
      // meta law): 1-2 events, ScVal topics (symbol name + u64 nonce) and
      // an {amount:i128, to:u64} data map — every byte affine in
      // (seq, t, e) so the DuckDB oracle re-derives the exact XDR
      val eventNames = Seq("transfer", "mint", "burn")
      val contractEvents =
        if ((seq + t) % 2 != 0) Nil
        else (0 until (1 + ((seq + t) / 2 % 2)).toInt).map { e =>
          Lcm.WireContractEvent(
            opIndex = (e % nOps),
            contractId = sha(s"ev-ct-$seq-$t-$e"),
            eventType = ((seq + t + e) % 3).toInt,
            topics = Seq(
              graft.codec.ScVal.encode(graft.codec.ScVal.Sym(
                eventNames(((seq + e) % 3).toInt))).toSeq,
              graft.codec.ScVal.encode(graft.codec.ScVal.U64(
                seq * 10 + t)).toSeq),
            data = graft.codec.ScVal.encode(graft.codec.ScVal.M(Seq(
              graft.codec.ScVal.Sym("amount") ->
                graft.codec.ScVal.I128(0L, 100000L * (t + 1) + seq % 97 + e),
              graft.codec.ScVal.Sym("to") ->
                graft.codec.ScVal.U64(seq * 1000 + t * 10 + e)))).toSeq)
        }
      Lcm.Tx(100L * (t + 1), rc, ops,
        memo, cond, feeBump, soroban, changes, claimAtoms,
        // sourceAccount laws: key hashes (seq, t); every third tx in a
        // ledger uses the muxed arm with an affine sub-account id
        sourceKey = sha(s"src-$seq-$t"),
        sourceMuxedId = if (t % 3 == 1) Some(seq * 1000 + t) else None,
        contractEvents = contractEvents)
    }
  }

  /** The deterministic per-ledger HEADER laws (v1 arm), re-derived by the
    * `src_lcm_header_scan` oracle: protocol cycles 20-22, prev hash chains
    * sha-256 over the prior sequence, monetary fields are affine in seq,
    * upgrades land on checkpoint ledgers (seq ≡ 63 mod 64), and the soroban
    * fee ext is present on even ledgers only (so the None arm is on the
    * wire too). */
  def fixtureHeader(seq: Long): Lcm.HeaderInfo = Lcm.HeaderInfo(
    protocolVersion = (20 + seq % 3).toInt,
    previousLedgerHash = sha(s"ledger:${seq - 1}"),
    totalCoins = 1000000000000L + seq * 7,
    feePool = seq * 100 + 5,
    baseFee = 100 + seq % 2,
    baseReserve = 5000000L,
    maxTxSetSize = 1000 + seq % 10)

  def fixtureUpgrades(seq: Long): Seq[Lcm.LedgerUpgrade] =
    if (seq % 64 == 63)
      Seq(Lcm.UpgradeBaseFee(100 + seq % 7), Lcm.UpgradeVersion(20 + seq % 3))
    else Nil

  /** One fully-populated V1 frame under the fixture laws (shared by the
    * batch-file and history-archive fixture writers). */
  def fixtureFrame(seq: Long): Lcm.Frame =
    Lcm.Frame(seq, 1700000000000L + seq * 5000L, fixtureTxs(seq),
      header = Some(fixtureHeader(seq)),
      upgrades = fixtureUpgrades(seq),
      bucketListSizeBytes = Some(1000000L + seq * 10),
      sorobanFeeWrite1000 =
        if (seq % 2 == 0) Some(1000 + seq % 500) else None)

  /** Deterministic fixture export derived from [[StellarFixture]]'s laws;
    * emits the header-carrying V1 arm since round 7. */
  def writeFixture(dir: String, start: Long, end: Long, batchSize: Int = 64): Seq[String] =
    writeFrames(dir, (start to end).map(fixtureFrame), batchSize)
}
