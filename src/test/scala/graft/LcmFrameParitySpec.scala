package graft

import java.util.Base64

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.scalatest.funsuite.AnyFunSuite

import graft.codec.{Hashes, StellarXdr, XdrEncode}
import graft.model.LedgerModel.{AssetRef, LedgerRow}
import graft.sources.RealXdrFixture

/** The LedgerCloseMeta pass and the frame path ([[StellarXdr.decodeTx]])
  * share one TxModel assembly: for every LCM layout, each transaction the
  * LCM pass yields equals the frame decode of that row's own `*_b64`
  * blobs. Rows are compared through the `LedgerRow` encoder's bytes, since
  * the model's byte arrays defeat case-class equality. */
class LcmFrameParitySpec extends AnyFunSuite {

  private def key(s: String): Array[Byte] = Hashes.sha256(s.getBytes("UTF-8"))
  private def b64(b: Array[Byte]): String =
    Base64.getEncoder.encodeToString(b)

  private val encoder = ExpressionEncoder[LedgerRow]()
  private def encoded(row: LedgerRow): Array[Byte] =
    encoder.createSerializer()(row).asInstanceOf[UnsafeRow].getBytes

  private val classicPayment: XdrEncode.LcmTx = {
    val src = key("pay-src")
    val env = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(
      sourceKey = src, fee = 300L, seqNum = 11L,
      ops = Seq(XdrEncode.paymentOp(key("pay-dst"),
        AssetRef("native", "", ""), 1234567L)),
      memoText = Some("parity")))
    XdrEncode.LcmTx(env,
      XdrEncode.txResult(100L, 0, Seq(XdrEncode.OpResultSpec(1, 0))),
      XdrEncode.txMetaV3(XdrEncode.TxMetaV3Spec(opChanges = Seq(Nil))),
      XdrEncode.feeMetaPair(src, 9999999L, 9999899L))
  }

  private val feeBump: XdrEncode.LcmTx = {
    val src = key("inner-src"); val bumper = key("bumper")
    val inner = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(
      sourceKey = src, fee = 200L, seqNum = 45L,
      ops = Seq(XdrEncode.paymentOp(key("fb-dst"),
        AssetRef("native", "", ""), 500L))))
    val innerHash = StellarXdr.decodeTxEnvelope(inner).hash
    XdrEncode.LcmTx(
      XdrEncode.txEnvelopeFeeBump(bumper, 4000L, inner,
        feeSourceMuxId = Some(4242L)),
      XdrEncode.txResultFeeBump(300L, innerHash, 200L,
        Seq(XdrEncode.OpResultSpec(1, 0))),
      XdrEncode.txMetaV3(XdrEncode.TxMetaV3Spec(opChanges = Seq(Nil),
        txChangesAfter = Seq(
          XdrEncode.change(3, XdrEncode.ledgerEntry(1L,
            XdrEncode.accountEntry(bumper, 700L))),
          XdrEncode.change(1, XdrEncode.ledgerEntry(1L,
            XdrEncode.accountEntry(bumper, 760L)))))),
      XdrEncode.feeMetaPair(bumper, 5000000L, 5000000L - 300L))
  }

  // a classic payment, a soroban invoke and a fee-bump tx
  private val txs = Seq(classicPayment, RealXdrFixture.tx(88001L, 1L), feeBump)

  // LCM v2 post-apply fee refunds, one per tx
  private val postFees = txs.indices.map { i =>
    val acct = key(s"refund-$i")
    XdrEncode.changes(Seq(
      XdrEncode.change(3, XdrEncode.ledgerEntry(1L,
        XdrEncode.accountEntry(acct, 900L + i))),
      XdrEncode.change(1, XdrEncode.ledgerEntry(1L,
        XdrEncode.accountEntry(acct, 950L + i)))))
  }

  private val header = XdrEncode.ledgerHeader(
    XdrEncode.HeaderSpec(88001L, 1719800000L))

  /** Decode `lcm`, then re-decode each of its txs on the frame path. */
  private def assertParity(lcm: Array[Byte],
      postFee: Int => String = _ => ""): Unit = {
    val row = StellarXdr.decodeLedgerCloseMeta(new StellarXdr.Reader(lcm))
    assert(row.transactions.size == txs.size)
    val framed = row.transactions.zipWithIndex.map { case (t, i) =>
      StellarXdr.decodeTx(StellarXdr.TxInput(t.envelope_b64, t.result_b64,
        t.meta_b64, t.fee_meta_b64, postFee(i)))
    }
    assert(encoded(row).sameElements(
      encoded(row.copy(transactions = framed))))
  }

  test("LedgerCloseMeta v0: every tx equals its frame decode") {
    assertParity(XdrEncode.ledgerCloseMetaV0(header, txs))
  }

  test("LedgerCloseMeta v1: every tx equals its frame decode") {
    assertParity(XdrEncode.ledgerCloseMetaV1(header, txs))
  }

  test("LedgerCloseMeta v2: every tx, with its post-fee refund, equals " +
      "its frame decode") {
    val lcm = XdrEncode.ledgerCloseMetaV2(header, txs, postFees = postFees)
    assertParity(lcm, i => b64(postFees(i)))
    // the refund pair is really surfaced (the parity is not vacuous)
    val row = StellarXdr.decodeLedgerCloseMeta(new StellarXdr.Reader(lcm))
    assert(row.transactions.head.changes_after.map(_.balance_after) ==
      Seq(950L))
  }

  test("the LCM row keeps the checked header hash and the header blob") {
    val row = StellarXdr.decodeLedgerCloseMeta(
      new StellarXdr.Reader(XdrEncode.ledgerCloseMetaV1(header, txs)))
    assert(row.ledger_hash.sameElements(Hashes.sha256(header)))
    assert(row.header_b64 == b64(header))
    val framed = StellarXdr.decodeLedgerRow(row.header_b64, Nil)
    assert(encoded(row.copy(transactions = Nil, soroban_fee_write_1kb = 0L,
      bucket_list_size = 0L)).sameElements(encoded(framed)))
  }
}
