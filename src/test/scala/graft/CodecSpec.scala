package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.codec._
import scala.util.Random

class CodecSpec extends AnyFunSuite {
  private def rnd = new Random(42)

  // ---- TOID ----------------------------------------------------------------

  test("toid pack/unpack roundtrip (property)") {
    val r = rnd
    for (_ <- 1 to 500) {
      val l = r.nextLong(Toid.MaxLedger + 1)
      val t = r.nextLong(Toid.MaxTxOrder + 1)
      val o = r.nextLong(Toid.MaxOpIndex + 1)
      assert(Toid.unpack(Toid.pack(l, t, o)) == ((l, t, o)))
    }
  }

  // ---- SAC contract id -----------------------------------------------------

  test("SAC contract id: native XLM on pubnet is the documented C-address") {
    // external vector: the Stellar Asset Contract for native XLM on the
    // public network, as published in Stellar's asset documentation
    assert(SacContractId.contractAddress("native", "", Array.emptyByteArray) ==
      "CAS3J7GYLGXMF6TDJBBYYSE3HQ6BBSMLNUQ34T6TZMYMW2EVH34XOWMA")
  }

  test("SAC contract id: sensitive to code, issuer, network, and type") {
    val issuerA = Hashes.sha256("issuer-a".getBytes("UTF-8"))
    val issuerB = Hashes.sha256("issuer-b".getBytes("UTF-8"))
    val base = SacContractId.contractId("credit_alphanum4", "USDC", issuerA)
    assert(!base.sameElements(SacContractId.contractId("credit_alphanum4", "USDX", issuerA)))
    assert(!base.sameElements(SacContractId.contractId("credit_alphanum4", "USDC", issuerB)))
    assert(!base.sameElements(SacContractId.contractId("credit_alphanum4", "USDC", issuerA,
      SacContractId.TestnetPassphrase)))
    // a 4-char code in the alphanum12 arm pads differently -> different id
    assert(!base.sameElements(SacContractId.contractId("credit_alphanum12", "USDC", issuerA)))
    // deterministic
    assert(base.sameElements(SacContractId.contractId("credit_alphanum4", "USDC", issuerA)))
    assert(SacContractId.contractAddress("credit_alphanum4", "USDC", issuerA).startsWith("C"))
  }

  test("toid ordering matches (ledger, tx, op) lexicographic order") {
    assert(Toid.pack(5, 0, 0) > Toid.pack(4, Toid.MaxTxOrder, Toid.MaxOpIndex))
    assert(Toid.pack(5, 2, 0) > Toid.pack(5, 1, Toid.MaxOpIndex))
    assert(Toid.pack(5, 2, 2) > Toid.pack(5, 2, 1))
  }

  test("synthetic offer id sets bit 62 on (toid+1) and is recognizable") {
    val id = Toid.syntheticOfferId(123, 45, 6)
    assert(Toid.isSynthetic(id))
    assert(!Toid.isSynthetic(Toid.pack(123, 45, 6)))
    assert((id & ~Toid.SyntheticOfferBit) == Toid.pack(123, 45, 6) + 1)
    // equivalently: the 1-based-op history operation id with bit 62 set
    assert(id == (Toid.operationId(123, 45, 7) | Toid.SyntheticOfferBit))
    assert(Toid.ledgerOf(id & ~Toid.SyntheticOfferBit) == 123)
  }

  test("toid rejects out-of-range components") {
    intercept[IllegalArgumentException](Toid.pack(-1, 0, 0))
    intercept[IllegalArgumentException](Toid.pack(0, Toid.MaxTxOrder + 1, 0))
    intercept[IllegalArgumentException](Toid.pack(0, 0, Toid.MaxOpIndex + 1))
  }

  // ---- CRC16 / strkey ------------------------------------------------------

  test("crc16-xmodem known vector") {
    // public check value for CRC-16/XMODEM
    assert(Crc16.checksum("123456789".getBytes("ASCII")) == 0x31c3)
    assert(Crc16.checksum(Array.emptyByteArray) == 0x0000)
  }

  test("strkey encode/decode roundtrip (property)") {
    val r = rnd
    for (_ <- 1 to 200) {
      val p = Array.fill[Byte](32)(0); r.nextBytes(p)
      val s = Strkey.encodeAccountId(p)
      assert(s.head == 'G')
      assert(s.length == 56)
      assert(Strkey.decodeAccountId(s).toSeq == p.toSeq)
    }
  }

  test("strkey version prefixes") {
    val p = Array.fill[Byte](32)(7)
    assert(Strkey.encode(Strkey.Version.Contract, p).head == 'C')
    assert(Strkey.encode(Strkey.Version.LiquidityPool, p).head == 'L')
    assert(Strkey.encode(Strkey.Version.ClaimableBalance, p).head == 'B')
    assert(Strkey.encodeMuxed(p, 42L).head == 'M')
  }

  test("strkey rejects corrupted checksum") {
    val s = Strkey.encodeAccountId(Array.fill[Byte](32)(1))
    val corrupted = s.updated(10, if (s(10) == 'A') 'B' else 'A')
    intercept[IllegalArgumentException](Strkey.decodeAccountId(corrupted))
  }

  test("base32 roundtrip (property)") {
    val r = rnd
    for (n <- 0 to 100) {
      val arr = Array.fill[Byte](n)(0); r.nextBytes(arr)
      // decode ignores padding-less tail bits; roundtrip must preserve bytes
      assert(Strkey.base32Decode(Strkey.base32Encode(arr)).toSeq == arr.toSeq)
    }
  }

  // ---- hashes --------------------------------------------------------------

  test("fnv64a known vectors") {
    // public FNV-1a 64-bit test vectors
    assert(Hashes.fnv64a("") == 0xcbf29ce484222325L)
    assert(Hashes.fnv64a("a") == 0xaf63dc4c8601ec8cL)
    assert(Hashes.fnv64a("foobar") == 0x85944171f73967e8L)
  }

  test("farmhash64 is deterministic and spreads") {
    val h1 = Hashes.farmHash64("USDCGA...issuer...credit_alphanum4")
    assert(h1 == Hashes.farmHash64("USDCGA...issuer...credit_alphanum4"))
    assert(Hashes.farmHash64("a") != Hashes.farmHash64("b"))
  }

  test("farmhash64 cross-engine vectors (independent python replay)") {
    // tools/golden_codecs.py — a from-scratch implementation of the public
    // FarmHash Fingerprint64 spec — must agree with Guava; the 0-16 branch
    // via "" and "abc", the >64 branch via an 80-char input (the golden
    // VALUES fixture sweeps 17-32 and 33-64 as well)
    assert(Hashes.farmHash64("") == -7286425919675154353L)
    assert(Hashes.farmHash64("abc") == 2640714258260161385L)
    assert(Hashes.farmHash64("x" * 80) == -8348814050750645742L)
  }

  test("rollingHash64: normalization, wrapping fold, replay vectors") {
    // law: lowercase, collapse whitespace runs, trim, then acc*31 + char
    // in WRAPPING int64 arithmetic (no ANSI overflow)
    assert(Hashes.rollingHash64("") == 0L)
    assert(Hashes.rollingHash64("a") == 97L)
    assert(Hashes.rollingHash64("A") == 97L)
    assert(Hashes.rollingHash64("  a\t\n b ") == Hashes.rollingHash64("a b"))
    // vectors from the independent python replay (tools/golden_codecs.py)
    assert(Hashes.rollingHash64("Graft  Codec\t 9 ") == -8125586579939303757L)
    assert(Hashes.rollingHash64("zQ7#xY9w") == 3458437457122L)
    assert(Hashes.rollingHash64("x" * 40) == -6539604125590443008L)
  }

  test("sha256 hex known vector") {
    assert(Hashes.sha256Hex("abc".getBytes("ASCII")) ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }

  test("hex equals the per-byte %02x rendering and round-trips (property)") {
    import org.scalacheck.{Arbitrary, Gen, Prop, Test}
    val edgeBytes = Gen.containerOf[Array, Byte](
      Gen.oneOf(0x00.toByte, 0x7f.toByte, 0x80.toByte, 0xff.toByte))
    val bytes = Gen.frequency(
      1 -> Gen.const(Array.emptyByteArray),
      3 -> edgeBytes,
      6 -> Gen.containerOf[Array, Byte](Arbitrary.arbitrary[Byte]))
    val prop = Prop.forAll(bytes) { b =>
      val h = Hashes.hex(b)
      h == b.map("%02x".format(_)).mkString &&
        java.util.Arrays.equals(java.util.HexFormat.of().parseHex(h), b)
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(500)
      .withInitialSeed(org.scalacheck.rng.Seed(42L)), prop)
    assert(result.passed, result.status)
  }

  // ---- amounts -------------------------------------------------------------

  test("stroops → XLM is correctly rounded") {
    assert(Amounts.stroopsToXlm(10000000L) == 1.0)
    assert(Amounts.stroopsToXlm(1L) == 1e-7)
    assert(Amounts.stroopsToXlm(123456789L) == 12.3456789)
    // correctly-rounded parity: equals BigDecimal exact division → double
    val r = rnd
    for (_ <- 1 to 500) {
      val v = r.nextLong(Long.MaxValue / 2)
      val exact = (BigDecimal(v) / BigDecimal(10000000L)).toDouble
      assert(Amounts.stroopsToXlm(v) == exact)
    }
  }

  test("int128 string handles unsigned low word and negatives") {
    assert(Amounts.int128String(0L, 5L) == "5")
    assert(Amounts.int128String(0L, -1L) == "18446744073709551615")
    assert(Amounts.int128String(1L, 0L) == "18446744073709551616")
    assert(Amounts.int128String(-1L, -1L) == "-1")
  }

  // ---- ScVal XDR + JSON ----------------------------------------------------

  private def hexStr(b: Array[Byte]): String = Hashes.hex(b)

  test("scval golden vectors: XDR layout pinned byte-for-byte") {
    import ScVal._
    // hand-derived from the XDR rules (RFC 4506) + SCValType discriminants:
    // every multi-byte scalar big-endian, opaques length-prefixed + padded
    assert(hexStr(encode(B(true))) == "0000000000000001")
    assert(hexStr(encode(Void)) == "00000001")
    assert(hexStr(encode(U32(7))) == "0000000300000007")
    assert(hexStr(encode(I32(-1))) == "00000004ffffffff")
    assert(hexStr(encode(U64(655L))) == "00000005000000000000028f")
    assert(hexStr(encode(I64(-2L))) == "00000006fffffffffffffffe")
    assert(hexStr(encode(I128(0L, 655L))) ==
      "0000000a0000000000000000000000000000028f")
    assert(hexStr(encode(Sym("error"))) == "0000000f000000056572726f72000000")
    assert(hexStr(encode(Str("key"))) == "0000000e000000036b657900")
    assert(hexStr(encode(Bytes(Array[Byte](1, 2, 3)))) ==
      "0000000d0000000301020300")
    assert(hexStr(encode(Vec(Seq(U32(1), U32(2))))) ==
      "0000001000000001000000020000000300000001" + "0000000300000002")
    assert(hexStr(encode(M(Seq(Sym("k") -> U32(9))))) ==
      "000000110000000100000001" + "0000000f000000016b000000" +
        "0000000300000009")
    val key = Array.fill[Byte](32)(0x11)
    assert(hexStr(encode(AddrAccount(key))) ==
      "00000012" + "00000000" + "00000000" + "11" * 32)
    assert(hexStr(encode(AddrContract(key))) ==
      "00000012" + "00000001" + "11" * 32)
  }

  test("scval decode inverts encode on nested values") {
    import ScVal._
    val v = M(Seq(
      Sym("amount") -> I128(1L, -1L),
      Sym("who") -> AddrAccount(Array.fill[Byte](32)(0x22)),
      Sym("path") -> Vec(Seq(Str("a\nb"), Bytes(Array[Byte](0, 127)), Void)),
      Sym("ts") -> Timepoint(123456789L),
      Sym("dur") -> Duration(-1L),
      Sym("flag") -> B(false),
      Sym("big") -> U128(-1L, -1L)))
    val back = decode(encode(v))
    // Array[Byte] breaks case-class equality; compare via JSON + re-encode
    assert(hexStr(encode(back)) == hexStr(encode(v)))
    assert(toJson(back) == toJson(v))
  }

  test("scval json: xdrjson shapes — numeric 64-bit ints, {hi,lo} parts") {
    import ScVal._
    // the Go SDK xdrjson rendering the reference emits
    // (contract_events.go:144) — verified against its real-mainnet
    // contract_events goldens in ReferenceGoldenSpec
    assert(toJson(U64(-1L)) == """{"u64":18446744073709551615}""")
    assert(toJson(I64(-1L)) == """{"i64":-1}""")
    assert(toJson(U128(-1L, -1L)) ==
      """{"u128":{"hi":18446744073709551615,"lo":18446744073709551615}}""")
    assert(toJson(I128(-1L, -1L)) ==
      """{"i128":{"hi":-1,"lo":18446744073709551615}}""")
    assert(toJson(Str("a\"b\\c\nd")) == """{"string":"a\"b\\c\nd"}""".stripMargin)
    assert(toJson(M(Seq(Sym("k") -> Vec(Seq(U32(1), Void))))) ==
      """{"map":[{"key":{"symbol":"k"},"val":{"vec":[{"u32":1},"void"]}}]}""")
    val acct = Array.fill[Byte](32)(0x33)
    assert(toJson(AddrAccount(acct)) ==
      s"""{"address":"${Strkey.encodeAccountId(acct)}"}""")
    assert(ScVal.jsonFromBinary(encode(Sym("transfer"))) ==
      """{"symbol":"transfer"}""")
  }

  test("scval full arm coverage: error, u256/i256, nonce keys") {
    import ScVal._
    assert(hexStr(encode(Err(0, 7))) == "000000020000000000000007")
    assert(toJson(decode(encode(Err(5, -1)))) ==
      """{"error":{"type":5,"code":4294967295}}""")
    assert(hexStr(encode(LedgerKeyNonce(9L))) ==
      "000000150000000000000009")
    assert(toJson(decode(encode(LedgerKeyNonce(-1L)))) ==
      """{"ledger_key_nonce":"-1"}""")
    // 256-bit ints as their four XDR parts (hi_hi signed, rest unsigned)
    assert(toJson(U256(-1L, -1L, -1L, -1L)) ==
      """{"u256":{"hi_hi":18446744073709551615,"hi_lo":18446744073709551615,""" +
        """"lo_hi":18446744073709551615,"lo_lo":18446744073709551615}}""")
    assert(toJson(I256(-1L, -1L, -1L, -1L)) ==
      """{"i256":{"hi_hi":-1,"hi_lo":18446744073709551615,""" +
        """"lo_hi":18446744073709551615,"lo_lo":18446744073709551615}}""")
    assert(toJson(decode(encode(U256(0L, 1L, 0L, 0L)))) ==
      """{"u256":{"hi_hi":0,"hi_lo":1,"lo_hi":0,"lo_lo":0}}""")
    assert(toJson(decode(encode(I256(Long.MinValue, 0L, 0L, 0L)))) ==
      s"""{"i256":{"hi_hi":${Long.MinValue},"hi_lo":0,"lo_hi":0,"lo_lo":0}}""")
  }

  // ---- SAC storage walk ----------------------------------------------------

  test("sac storage walk: asset recovery with contract-id self-check") {
    import ScVal._
    val issuer = Hashes.sha256("iss".getBytes("UTF-8"))
    val key = encode(LedgerKeyContractInstance)
    val value = encode(ContractInstance(None, Seq(
      Vec(Seq(Sym("AssetInfo"))) -> Vec(Seq(Sym("AlphaNum4"), M(Seq(
        Sym("asset_code") -> Str("USDX"),
        Sym("issuer") -> Bytes(issuer))))))))
    val rightId = SacContractId.contractId("credit_alphanum4", "USDX", issuer)
    val got = SacStorage.assetFromContractData(key, value, rightId)
    assert(got.exists(a => a.assetType == "credit_alphanum4" &&
      a.code == "USDX" && java.util.Arrays.equals(a.issuerKey, issuer)))
    // wrong contract id → rejected by the self-check
    assert(SacStorage.assetFromContractData(key, value,
      Hashes.sha256("other".getBytes("UTF-8"))).isEmpty)
    // instance roundtrips through decode and renders as tagged JSON
    assert(decode(value).isInstanceOf[ContractInstance])
    assert(toJson(decode(value)).startsWith(
      """{"contract_instance":{"executable":"stellar_asset""""))
    // non-instance key → no asset
    assert(SacStorage.assetFromContractData(encode(Sym("junk")), value, rightId).isEmpty)
  }

  test("sac storage walk: balance entry shape") {
    import ScVal._
    val holder = Hashes.sha256("holder".getBytes("UTF-8"))
    val key = encode(Vec(Seq(Sym("Balance"), AddrContract(holder))))
    val value = encode(M(Seq(
      Sym("amount") -> I128(0L, 123456L),
      Sym("authorized") -> B(true),
      Sym("clawback") -> B(false))))
    val got = SacStorage.contractBalanceFromContractData(key, value)
    assert(got.exists(b => java.util.Arrays.equals(b.holder, holder) &&
      b.amountString == "123456" && b.authorized && !b.clawback))
    // negative amount hi → rejected (balance invariant)
    val neg = encode(M(Seq(
      Sym("amount") -> I128(-1L, 0L),
      Sym("authorized") -> B(true),
      Sym("clawback") -> B(false))))
    assert(SacStorage.contractBalanceFromContractData(key, neg).isEmpty)
    // malformed bytes never throw
    assert(SacStorage.contractBalanceFromContractData(Array[Byte](1, 2), value).isEmpty)
  }

  test("LCM XDR frame: golden byte layout and roundtrip") {
    import Lcm._
    val f = Frame(2048L, 1700000000000L, Seq(
      Tx(100L, successful = true, Seq(Op(9, 1000000L))),
      Tx(200L, successful = false, Seq(Op(17, 7L), Op(26, 42L)))))
    val bytes = encode(f)
    // version ‖ uint32 seq ‖ uint64 closeTimeMs ‖ nTx ‖ per tx:
    // envType(TX=2) ‖ muxTag(0) ‖ sourceKey[32] (zero default) ‖
    // memo tag ‖ cond tag ‖ resultCode (signed) ‖ hyper fee ‖
    // soroban-ext bool(0) ‖ nOps ‖ per op: hasSource(0) ‖ opType ‖
    // hyper amount ‖ nChanges(0) ‖ nClaimAtoms(0) ‖ nContractEvents(0)
    val zsrc = "00000000" + "00" * 32
    assert(hexStr(bytes) ==
      "00000002" + "00000800" + "0000018bcfe56800" + "00000002" +
        "00000002" + zsrc + "00000000" + "00000000" +
        "00000000" + "0000000000000064" + "00000000" + "00000001" +
        "00000000" + "00000009" + "00000000000f4240" +
        "00000000" + "00000000" + "00000000" +
        "00000002" + zsrc + "00000000" + "00000000" +
        "ffffffff" + "00000000000000c8" + "00000000" + "00000002" +
        "00000000" + "00000011" + "0000000000000007" +
        "00000000" + "0000001a" + "000000000000002a" +
        "00000000" + "00000000" + "00000000")
    assert(decode(bytes) == f)

    // Operation.body typed arms: CREATE_ACCOUNT carries the destination,
    // PAYMENT adds the asset code (string<12>, padded); both roundtrip and
    // the generic stand-in arm refuses types 0/1 without their detail
    val dst = Seq.tabulate(32)(i => (i * 9).toByte)
    val opsTx = Tx(10L, TxSuccess, Seq(
      Op(0, 50000000L, OpCreateAccount(dst)),
      Op(1, 777L, OpPayment(dst, "USDC")),
      Op(26, 3L)))
    val opsBytes = encode(Frame(7L, 1L, Seq(opsTx)))
    assert(decode(opsBytes).txs.head == opsTx)
    assert(hexStr(opsBytes).contains(
      "00000001" + "0000000000000309" +          // PAYMENT ‖ amount 777
        dst.map("%02x".format(_)).mkString +
        "00000004" + "55534443"))                // len ‖ "USDC"
    intercept[IllegalArgumentException](Op(0, 1L))
    intercept[IllegalArgumentException](Op(1, 1L))
    intercept[IllegalArgumentException](Op(5, 1L, OpPayment(dst, "XLM")))
    intercept[IllegalArgumentException](OpPayment(dst, "THIRTEEN-CHARS"))

    // the four arms grown past CREATE_ACCOUNT/PAYMENT: path payments carry
    // (bound, result-actual) hypers after the asset pair; manage offers
    // carry offerId ‖ pair ‖ rational price. All roundtrip; wire bytes of
    // the strict-receive arm pinned (XLM pads to 4, result follows bound)
    val grownTx = Tx(11L, TxSuccess, Seq(
      Op(2, 5000000L, OpPathPaymentStrictReceive(dst, "XLM", "USDC",
        sendMax = 6000000L, resultSendAmount = 5500000L)),
      Op(13, 400L, OpPathPaymentStrictSend(dst, "EURC", "XLM",
        destMin = 300L, resultDestAmount = 350L)),
      Op(3, 1234L, OpManageSellOffer(42L, "USDC", "EURC", 7, 9)),
      Op(12, 4321L, OpManageBuyOffer(0L, "XLM", "USDC", -3, 11))))
    val grownBytes = encode(Frame(8L, 2L, Seq(grownTx)))
    assert(decode(grownBytes).txs.head == grownTx)
    assert(hexStr(grownBytes).contains(
      "00000002" + "00000000004c4b40" +          // op 2 ‖ destAmount
        dst.map("%02x".format(_)).mkString +
        "00000003" + "584c4d00" +                // "XLM" padded
        "00000004" + "55534443" +                // "USDC"
        "00000000005b8d80" +                     // sendMax 6000000
        "000000000053ec60"))                     // resultSendAmount 5500000
    // typed arms refuse mismatched op types; zero denominators refuse
    Seq(2, 3, 4, 6, 8, 10, 11, 12, 13).foreach(t =>
      intercept[IllegalArgumentException](Op(t, 1L)))
    intercept[IllegalArgumentException](
      Op(5, 1L, OpManageSellOffer(1L, "A", "B", 1, 1)))
    intercept[IllegalArgumentException](OpManageSellOffer(1L, "A", "B", 1, 0))

    // the five single-field arms (passive offer, change trust, merge,
    // manage data with both value arms, bump sequence) all roundtrip
    val smallArmsTx = Tx(12L, TxSuccess, Seq(
      Op(4, 77L, OpCreatePassiveSellOffer("XLM", "USDC", 3, 5)),
      Op(6, 0L, OpChangeTrust("EURC", 9000000L)),
      Op(8, 0L, OpAccountMerge(dst)),
      Op(10, 0L, OpManageData("cfg-a", Some(Seq[Byte](1, 2, 3)))),
      Op(10, 0L, OpManageData("cfg-del", None)),
      Op(11, 0L, OpBumpSequence(123456789L))))
    val smallArmsBytes = encode(Frame(9L, 3L, Seq(smallArmsTx)))
    assert(decode(smallArmsBytes).txs.head == smallArmsTx)
    // MANAGE_DATA wire: name ‖ bool ‖ opaque<64> padded to 4
    assert(hexStr(smallArmsBytes).contains(
      "00000005" + "6366672d61000000" +          // "cfg-a" padded
        "00000001" + "00000003" + "01020300"))   // present ‖ len ‖ padded
    intercept[IllegalArgumentException](OpManageData("x" * 65, None))
    intercept[IllegalArgumentException](
      OpManageData("n", Some(Seq.fill[Byte](65)(1))))

    // SET_OPTIONS: all-absent, all-present, and the optional pattern's
    // wire form (bool ‖ value per field); ALLOW_TRUST and CLAWBACK
    val setOptsTx = Tx(13L, TxSuccess, Seq(
      Op(5, 0L, OpSetOptions()),
      Op(5, 0L, OpSetOptions(Some(dst), Some(1), Some(10), Some(255),
        Some(1), Some(2), Some(3), Some("dom.example"), Some((dst, 7)))),
      Op(7, 0L, OpAllowTrust(dst, "USDC", 2)),
      Op(19, 5000L, OpClawback("XLM", dst))))
    val setOptsBytes = encode(Frame(10L, 4L, Seq(setOptsTx)))
    assert(decode(setOptsBytes).txs.head == setOptsTx)
    // all-absent SET_OPTIONS = nine zero bools
    assert(hexStr(setOptsBytes).contains("00000005" +
      "0000000000000000" + "00000000" * 9))
    intercept[IllegalArgumentException](OpSetOptions(homeDomain = Some("x" * 33)))
    intercept[IllegalArgumentException](OpAllowTrust(dst.take(5), "A", 1))
    // header-only decode positions the buffer at the tx count
    val buf = java.nio.ByteBuffer.wrap(bytes)
    assert(Lcm.decodeHeader(buf) == ((2048L, 1700000000000L)))
    assert(decodeTxs(buf) == f.txs)
    // unknown version tag is rejected, not misread
    val bad = bytes.clone(); bad(3) = 9
    intercept[IllegalArgumentException](decode(bad))
  }

  test("LCM XDR operation arms: claimable balances, sponsorship, pools, soroban") {
    import Lcm._
    def fill(b: Int): Seq[Byte] = Seq.fill[Byte](32)(b.toByte)
    def hx(b: Seq[Byte]): String = b.map("%02x".format(_)).mkString
    val z8 = "0000000000000000"

    // CREATE_CLAIMABLE_BALANCE: asset ‖ count ‖ claimants; claim/clawback
    // and begin-sponsoring are bare opaque[32] ids
    val cbTx = Tx(20L, TxSuccess, Seq(
      Op(14, 5L, OpCreateClaimableBalance("XLM", Seq(fill(0xAA)))),
      Op(15, 0L, OpClaimClaimableBalance(fill(0x01))),
      Op(16, 0L, OpBeginSponsoringFutureReserves(fill(0x02))),
      Op(20, 7L, OpClawbackClaimableBalance(fill(0x06)))))
    val cbBytes = encode(Frame(30L, 1L, Seq(cbTx)))
    assert(decode(cbBytes).txs.head == cbTx)
    assert(hexStr(cbBytes).contains(
      "0000000e" + "0000000000000005" +
        "00000003" + "584c4d00" +                // "XLM" padded
        "00000001" + hx(fill(0xAA))))            // claimants<10>: 1 entry
    assert(hexStr(cbBytes).contains("0000000f" + z8 + hx(fill(0x01))))
    assert(hexStr(cbBytes).contains("00000010" + z8 + hx(fill(0x02))))
    assert(hexStr(cbBytes).contains(
      "00000014" + "0000000000000007" + hx(fill(0x06))))

    // REVOKE_SPONSORSHIP: tag 0 = (entryType, key), tag 1 = (account, key);
    // SET_TRUST_LINE_FLAGS: trustor ‖ asset ‖ clear ‖ set
    val spTx = Tx(21L, TxSuccess, Seq(
      Op(18, 0L, OpRevokeSponsorship(Some((4, fill(0x03))), None)),
      Op(18, 0L, OpRevokeSponsorship(None, Some((fill(0x04), fill(0x05))))),
      Op(21, 0L, OpSetTrustLineFlags(fill(0x07), "USDC", 1, 6))))
    val spBytes = encode(Frame(31L, 2L, Seq(spTx)))
    assert(decode(spBytes).txs.head == spTx)
    assert(hexStr(spBytes).contains(
      "00000012" + z8 + "00000000" + "00000004" + hx(fill(0x03))))
    assert(hexStr(spBytes).contains(
      "00000012" + z8 + "00000001" + hx(fill(0x04)) + hx(fill(0x05))))
    assert(hexStr(spBytes).contains(
      "00000015" + z8 + hx(fill(0x07)) +
        "00000004" + "55534443" + "00000001" + "00000006"))

    // LIQUIDITY_POOL_DEPOSIT: pool ‖ max hypers ‖ (min, max) price band;
    // WITHDRAW: pool ‖ min hypers (amount above = burned shares)
    val lpTx = Tx(22L, TxSuccess, Seq(
      Op(22, 0L, OpLiquidityPoolDeposit(fill(0x08), 100L, 200L, 1, 2, 3, 4)),
      Op(23, 9L, OpLiquidityPoolWithdraw(fill(0x09), 10L, 20L))))
    val lpBytes = encode(Frame(32L, 3L, Seq(lpTx)))
    assert(decode(lpBytes).txs.head == lpTx)
    assert(hexStr(lpBytes).contains(
      "00000016" + z8 + hx(fill(0x08)) +
        "0000000000000064" + "00000000000000c8" +
        "00000001" + "00000002" + "00000003" + "00000004"))
    assert(hexStr(lpBytes).contains(
      "00000017" + "0000000000000009" + hx(fill(0x09)) +
        "000000000000000a" + "0000000000000014"))

    // INVOKE_HOST_FUNCTION: fn tag ‖ optional contract (absent iff
    // UPLOAD_WASM); EXTEND_FOOTPRINT_TTL: bare uint32
    val sorobanTx = Tx(23L, TxSuccess, Seq(
      Op(24, 0L, OpInvokeHostFunction(0, Some(fill(0x0B)))),
      Op(24, 0L, OpInvokeHostFunction(2, None)),
      Op(25, 0L, OpExtendFootprintTtl(4096L))))
    val sorobanBytes = encode(Frame(33L, 4L, Seq(sorobanTx)))
    assert(decode(sorobanBytes).txs.head == sorobanTx)
    assert(hexStr(sorobanBytes).contains(
      "00000018" + z8 + "00000000" + "00000001" + hx(fill(0x0B))))
    assert(hexStr(sorobanBytes).contains(
      "00000018" + z8 + "00000002" + "00000000"))
    assert(hexStr(sorobanBytes).contains("00000019" + z8 + "00001000"))

    // structural refusals: typed types refuse the stand-in arm, union
    // invariants hold (exactly-one revoke arm, UPLOAD_WASM addresses no
    // contract, claimants bounded, uint32 TTL range)
    Seq(14, 15, 16, 18, 20, 21, 22, 23, 24, 25).foreach(t =>
      intercept[IllegalArgumentException](Op(t, 1L)))
    intercept[IllegalArgumentException](OpRevokeSponsorship(None, None))
    intercept[IllegalArgumentException](
      OpRevokeSponsorship(Some((0, fill(1))), Some((fill(2), fill(3)))))
    intercept[IllegalArgumentException](OpInvokeHostFunction(2, Some(fill(1))))
    intercept[IllegalArgumentException](OpInvokeHostFunction(0, None))
    intercept[IllegalArgumentException](
      OpCreateClaimableBalance("XLM", Seq.empty))
    intercept[IllegalArgumentException](
      OpCreateClaimableBalance("XLM", Seq.fill(11)(fill(1))))
    intercept[IllegalArgumentException](OpExtendFootprintTtl(-1L))
    intercept[IllegalArgumentException](
      OpLiquidityPoolDeposit(fill(1), 1L, 1L, 1, 0, 1, 1))
  }

  test("LCM XDR wire changes: per-op LedgerEntryChanges subset") {
    import Lcm._
    def fill(b: Int): Seq[Byte] = Seq.fill[Byte](32)(b.toByte)
    def hx(b: Seq[Byte]): String = b.map("%02x".format(_)).mkString

    // kind ‖ entryType ‖ opIndex ‖ keyHash ‖ uint32 lastModified ‖ balance
    val ch1 = WireChange(0, 1, 0, fill(0x21), 2048L, 5000000L)
    val ch2 = WireChange(2, 9, 0, fill(0x22), 7L, 0L)
    val tx = Tx(10L, TxSuccess, Seq(Op(9, 1L)), changes = Seq(ch1, ch2))
    val bytes = encode(Frame(40L, 1L, Seq(tx)))
    assert(decode(bytes).txs.head == tx)
    assert(hexStr(bytes).contains(
      "00000009" + "0000000000000001" +          // the op
        "00000002" +                             // nChanges
        "00000000" + "00000001" + "00000000" +   // CREATED trustline op 0
        hx(fill(0x21)) + "00000800" + "00000000004c4b40" +
        "00000000" + "00000000" +                // no pre/post sponsor
        "00000002" + "00000009" + "00000000" +   // REMOVED ttl op 0
        hx(fill(0x22)) + "00000007" + "0000000000000000" +
        "00000000" + "00000000"))                // no pre/post sponsor

    // entry-type-discriminated pre/post arms: OFFER pre-state price, LP
    // constant-product pre/post + fee, and the pre/post sponsor pair — all
    // round-trip, and the refusals pin the arms to their entry types
    val offerCh = WireChange(1, 2, 0, fill(0x23), 9L, 100L,
      offerId = 4242L, prePriceN = 3, prePriceD = 7)
    val lpCh = WireChange(1, 5, 0, fill(0x24), 9L, 0L,
      preReserveA = 1000L, preReserveB = 2000L, preShares = 30L,
      postReserveA = 900L, postReserveB = 2100L, postShares = 31L,
      poolFee = 30)
    val spCh = WireChange(0, 0, 0, fill(0x25), 9L, 50L,
      postSponsor = Some(fill(0x26)))
    val spPair = WireChange(1, 0, 0, fill(0x27), 9L, 50L,
      preSponsor = Some(fill(0x28)), postSponsor = Some(fill(0x29)))
    // ACCOUNT signer→sponsor maps round-trip (created/updated/removed
    // diff substrate), including the asymmetric-count arm
    val sigCh = WireChange(1, 0, 0, fill(0x2A), 9L, 50L,
      preSignerSponsors = Seq((fill(0x2B), fill(0x2C))),
      postSignerSponsors = Seq(
        (fill(0x2B), fill(0x2D)), (fill(0x2E), fill(0x2F))))
    val armTx = Tx(12L, TxSuccess, Seq(Op(9, 1L)),
      changes = Seq(offerCh, lpCh, spCh, spPair, sigCh))
    assert(decode(encode(Frame(42L, 3L, Seq(armTx)))).txs.head == armTx)
    assert(hexStr(encode(Frame(42L, 3L, Seq(armTx)))).contains(
      hx(fill(0x23)) + "00000009" + "0000000000000064" +
        "0000000000001092" + "00000003" + "00000007" + // offer arm
        "00000000" + "00000000"))                      // no pre/post sponsor
    intercept[IllegalArgumentException](               // offer arm off-type
      WireChange(1, 1, 0, fill(1), 1L, 0L, offerId = 7L))
    intercept[IllegalArgumentException](               // LP arm off-type
      WireChange(1, 2, 0, fill(1), 1L, 0L, preReserveA = 7L))
    intercept[IllegalArgumentException](               // pre sponsor on CREATED
      WireChange(0, 0, 0, fill(1), 1L, 0L, preSponsor = Some(fill(2))))
    intercept[IllegalArgumentException](               // post sponsor on REMOVED
      WireChange(2, 0, 0, fill(1), 1L, 0L, postSponsor = Some(fill(2))))
    intercept[IllegalArgumentException](               // sponsor width
      WireChange(0, 0, 0, fill(1), 1L, 0L,
        postSponsor = Some(fill(2).take(4))))
    intercept[IllegalArgumentException](               // signer map off-type
      WireChange(1, 1, 0, fill(1), 1L, 0L,
        preSignerSponsors = Seq((fill(2), fill(3)))))
    intercept[IllegalArgumentException](               // pre signers on CREATED
      WireChange(0, 0, 0, fill(1), 1L, 0L,
        preSignerSponsors = Seq((fill(2), fill(3)))))

    // Soroban contract events: ScVal topic/data blobs round-trip through
    // the var-opaque framing, zero-topic and multi-op arms included
    val evTx = Tx(13L, TxSuccess, Seq(Op(9, 1L), Op(9, 2L)),
      contractEvents = Seq(
        WireContractEvent(0, fill(0x41), 1,
          Seq(graft.codec.ScVal.encode(graft.codec.ScVal.Sym("transfer")).toSeq,
            graft.codec.ScVal.encode(graft.codec.ScVal.U64(7L)).toSeq),
          graft.codec.ScVal.encode(graft.codec.ScVal.U32(5)).toSeq),
        WireContractEvent(1, fill(0x42), 2, Nil,
          graft.codec.ScVal.encode(graft.codec.ScVal.B(true)).toSeq)))
    assert(decode(encode(Frame(43L, 4L, Seq(evTx)))).txs.head == evTx)
    intercept[IllegalArgumentException](               // bad event type
      WireContractEvent(0, fill(1), 3, Nil, Seq(0, 0, 0, 0)))
    intercept[IllegalArgumentException](               // unattributable
      Tx(1L, TxSuccess, Seq(Op(9, 1L)), contractEvents = Seq(
        WireContractEvent(1, fill(1), 0, Nil, Nil))))

    // RESULT claim atoms (history_trades grain): orderbook arm carries the
    // crossed offer, LP arm the pool id with offerId 0
    val atomTx = Tx(11L, TxSuccess, Seq(Op(9, 1L)), claimAtoms = Seq(
      WireClaimAtom(0, isPool = false, fill(0x31), 4242L,
        "XLM", 500L, "USDC", 700L),
      WireClaimAtom(0, isPool = true, fill(0x32), 0L,
        "EURC", 80L, "XLM", 90L)))
    val atomBytes = encode(Frame(41L, 2L, Seq(atomTx)))
    assert(decode(atomBytes).txs.head == atomTx)
    assert(hexStr(atomBytes).contains(
      "00000002" +                               // nClaimAtoms
        "00000000" + "00000000" + hx(fill(0x31)) + // op 0, orderbook
        "0000000000001092" +                     // offerId 4242
        "00000003" + "584c4d00" + "00000000000001f4" + // XLM ‖ 500
        "00000004" + "55534443" + "00000000000002bc" + // USDC ‖ 700
        "00000000" + "00000001" + hx(fill(0x32)) + // op 0, LP
        "0000000000000000" +
        "00000004" + "45555243" + "0000000000000050" + // EURC ‖ 80
        "00000003" + "584c4d00" + "000000000000005a")) // XLM ‖ 90
    intercept[IllegalArgumentException](                // LP with offer id
      WireClaimAtom(0, isPool = true, fill(1), 7L, "A", 1L, "B", 1L))
    intercept[IllegalArgumentException](                // bad id width
      WireClaimAtom(0, isPool = false, fill(1).take(3), 7L, "A", 1L, "B", 1L))
    intercept[IllegalArgumentException](                // unattributable
      Tx(1L, TxSuccess, Seq.empty, claimAtoms = Seq(
        WireClaimAtom(0, isPool = false, fill(1), 7L, "A", 1L, "B", 1L))))

    // sourceAccount MuxedAccount union: both arms roundtrip, the muxed
    // arm carries the sub-account id before the ed25519 key
    val srcKey = Seq.tabulate(32)(i => (i * 5).toByte)
    val plainSrc = Tx(10L, TxSuccess, Seq(Op(9, 1L)), sourceKey = srcKey)
    assert(decode(encode(Frame(50L, 1L, Seq(plainSrc)))).txs.head == plainSrc)
    val muxedSrc = Tx(10L, TxSuccess, Seq(Op(9, 1L)),
      sourceKey = srcKey, sourceMuxedId = Some(77L))
    val muxedBytes = encode(Frame(50L, 1L, Seq(muxedSrc)))
    assert(decode(muxedBytes).txs.head == muxedSrc)
    assert(hexStr(muxedBytes).contains(
      "00000001" + "000000000000004d" + hx(srcKey)))
    intercept[IllegalArgumentException](
      Tx(1L, TxSuccess, Nil, sourceKey = srcKey.take(5)))

    // per-op sourceAccount: present-arm wire bytes precede the op type
    val opSrcTx = Tx(10L, TxSuccess, Seq(Op(9, 1L, sourceKey = Some(srcKey))))
    val opSrcBytes = encode(Frame(51L, 1L, Seq(opSrcTx)))
    assert(decode(opSrcBytes).txs.head == opSrcTx)
    assert(hexStr(opSrcBytes).contains(
      "00000001" + hx(srcKey) + "00000009"))
    intercept[IllegalArgumentException](
      Op(9, 1L, sourceKey = Some(srcKey.take(4))))

    // structural refusals: enum bounds, fingerprint width, op attribution
    intercept[IllegalArgumentException](WireChange(3, 0, 0, fill(1), 1L, 0L))
    intercept[IllegalArgumentException](WireChange(0, 10, 0, fill(1), 1L, 0L))
    intercept[IllegalArgumentException](WireChange(0, 0, -1, fill(1), 1L, 0L))
    intercept[IllegalArgumentException](WireChange(0, 0, 0, fill(1).take(5), 1L, 0L))
    intercept[IllegalArgumentException](
      WireChange(0, 0, 0, fill(1), 0x100000000L, 0L))
    // a zero-op tx cannot carry op-attributed changes; out-of-range opIndex
    intercept[IllegalArgumentException](
      Tx(1L, TxSuccess, Seq.empty, changes = Seq(ch1)))
    intercept[IllegalArgumentException](
      Tx(1L, TxSuccess, Seq(Op(9, 1L)),
        changes = Seq(WireChange(0, 1, 1, fill(1), 1L, 0L))))
  }

  test("LCM XDR unions: memo, preconditions, result codes, fee-bump shell") {
    import Lcm._
    val h3 = Seq.tabulate(32)(i => (i + 1).toByte)
    val h4 = Seq.tabulate(32)(i => (64 - i).toByte)
    val fbSrc = Seq.tabulate(32)(i => (128 + i).toByte)

    // memo TEXT padding: "hi" → len 2 ‖ 6869 ‖ 2-byte zero pad (4-aligned)
    val memoTx = Tx(7L, TxSuccess, Seq(Op(9, 5L)), memo = MemoText("hi"))
    val memoBytes = encode(Frame(9L, 0L, Seq(memoTx)))
    assert(hexStr(memoBytes).contains("00000001" + "00000002" + "68690000"))

    // every memo arm roundtrips
    Seq(MemoNone, MemoText("m-2048-1"), MemoId(32769L), MemoHash(h3),
        MemoReturn(h4)).foreach { m =>
      val tx = Tx(10L, TxSuccess, Seq(Op(9, 1L)), memo = m)
      assert(decode(encode(Frame(5L, 1L, Seq(tx)))).txs.head.memo == m)
    }

    // every precondition arm roundtrips, incl. the V2 optional lattice
    Seq(PrecondNone,
        PrecondTime(TimeBounds(1700000000L, 1700003600L)),
        PrecondV2(None, None, None),
        PrecondV2(Some(TimeBounds(1L, 2L)), None, Some(99L)),
        PrecondV2(None, Some(LedgerBounds(0L, 4294967295L)), None),
        PrecondV2(Some(TimeBounds(5L, 6L)), Some(LedgerBounds(10L, 20L)),
          Some(7L))).foreach { c =>
      val tx = Tx(10L, TxSuccess, Seq(Op(9, 1L)), cond = c)
      assert(decode(encode(Frame(5L, 1L, Seq(tx)))).txs.head.cond == c)
    }

    // signed result codes survive, and `successful` derives from them —
    // the FULL enum, txFEE_BUMP_INNER_SUCCESS(1) .. txSOROBAN_INVALID(-17)
    (TxResultCodeMin to TxResultCodeMax).foreach { rc =>
      val tx = decode(encode(Frame(5L, 1L,
        Seq(Tx(10L, rc, Seq(Op(9, 1L))))))).txs.head
      assert(tx.resultCode == rc && tx.successful == (rc >= 0))
    }
    // out-of-enum codes are rejected on both sides
    intercept[IllegalArgumentException] {
      encode(Frame(5L, 1L, Seq(Tx(10L, -18, Seq(Op(9, 1L))))))
    }

    // PreconditionsV2 long tail: age/gap gates + every SignerKey arm
    // (ED25519, PRE_AUTH_TX, HASH_X, ED25519_SIGNED_PAYLOAD with a
    // non-4-aligned payload exercising the XDR pad)
    val k1 = Seq.tabulate(32)(i => (i * 5).toByte)
    val k2 = Seq.tabulate(32)(i => (i * 7 + 1).toByte)
    Seq(
      PrecondV2(None, None, None, minSeqAge = 3600L, minSeqLedgerGap = 17L),
      PrecondV2(Some(TimeBounds(5L, 6L)), None, Some(9L),
        minSeqAge = 0L, minSeqLedgerGap = 0L,
        extraSigners = Seq(SignerEd25519(k1), SignerHashX(k2))),
      PrecondV2(None, None, None,
        extraSigners = Seq(SignerPreAuthTx(k1))),
      PrecondV2(None, None, None, minSeqAge = Long.MaxValue,
        extraSigners = Seq(SignerEd25519SignedPayload(k2,
          "odd-len-payload".getBytes("UTF-8").toSeq)))).foreach { c =>
      val tx = Tx(10L, TxSuccess, Seq(Op(9, 1L)), cond = c)
      assert(decode(encode(Frame(5L, 1L, Seq(tx)))).txs.head.cond == c)
    }
    // >2 extra signers violates SignerKey<2>
    intercept[IllegalArgumentException] {
      PrecondV2(None, None, None, extraSigners =
        Seq(SignerEd25519(k1), SignerEd25519(k2), SignerHashX(k1)))
    }

    // SorobanTransactionMetaExt fee triple: optional, roundtrips, and its
    // wire form is bool(1) ‖ three hypers
    val sm = Tx(10L, TxSuccess, Seq(Op(9, 1L)),
      sorobanMeta = Some(SorobanMeta(1048L, 512L, 77L)))
    val smBytes = encode(Frame(5L, 1L, Seq(sm)))
    assert(decode(smBytes).txs.head == sm)
    assert(hexStr(smBytes).contains(
      "00000001" + "0000000000000418" + "0000000000000200" + "000000000000004d"))
    assert(decode(encode(Frame(5L, 1L, Seq(sm.copy(sorobanMeta = None)))))
      .txs.head.sorobanMeta.isEmpty)

    // fee-bump shell: envelope discriminant 5, feeSource + fee, roundtrip
    val fb = Tx(10L, TxFeeBumpInnerSuccess, Seq(Op(9, 1L)),
      feeBump = Some(FeeBump(fbSrc, 501L)))
    val fbBytes = encode(Frame(5L, 1L, Seq(fb)))
    assert(hexStr(fbBytes).contains("00000005" + fbSrc.map("%02x".format(_)).mkString
      + "00000000000001f5"))
    assert(decode(fbBytes).txs.head == fb)
  }

  test("LCM XDR ledger arms: header subset, upgrades, V1 soroban extras") {
    import Lcm._
    val prev = Seq.tabulate(32)(i => (i * 3).toByte)
    val header = HeaderInfo(
      protocolVersion = 21, previousLedgerHash = prev,
      totalCoins = 1000000000007L, feePool = 205L,
      baseFee = 101L, baseReserve = 5000000L, maxTxSetSize = 1002L)
    val upgrades = Seq(UpgradeBaseFee(103L), UpgradeVersion(21L))
    val txs = Seq(Tx(100L, TxSuccess, Seq(Op(9, 1000000L))))

    // v0 arm: header + upgrades, no extras
    val v0 = Frame(2048L, 1700000000000L, txs, Some(header), upgrades)
    assert(hexStr(encode(v0)).startsWith(
      "00000000" + "00000800" + "0000018bcfe56800" +  // tag ‖ seq ‖ closeMs
      "00000015" + prev.map("%02x".format(_)).mkString + // protocol ‖ prevHash
      "000000e8d4a51007" + "00000000000000cd" +        // totalCoins ‖ feePool
      "00000065" + "004c4b40" + "000003ea" +           // baseFee ‖ reserve ‖ maxTx
      "00000002" + "00000002" + "00000067" +           // nUp ‖ BASE_FEE ‖ 103
      "00000001" + "00000015"))                        // VERSION ‖ 21
    assert(decode(encode(v0)) == v0)

    // v1 arm: + bucket list size and the optional soroban ext (both states)
    val v1 = v0.copy(bucketListSizeBytes = Some(1020480L),
      sorobanFeeWrite1000 = Some(1048L))
    assert(hexStr(encode(v1)).startsWith("00000001"))
    assert(decode(encode(v1)) == v1)
    val v1NoExt = v0.copy(bucketListSizeBytes = Some(1020480L))
    assert(decode(encode(v1NoExt)) == v1NoExt)

    // a soroban ext without the (mandatory-in-V1) bucket list size would
    // break decode(encode(f)) == f — the encoder refuses it loudly
    intercept[IllegalArgumentException] {
      encode(v0.copy(sorobanFeeWrite1000 = Some(1L)))
    }

    // legacy header-less frames keep the old tag and wire bytes
    val legacy = Frame(2048L, 1700000000000L, txs)
    assert(hexStr(encode(legacy)).startsWith("00000002"))
    assert(decode(encode(legacy)) == legacy)

    // decodeMeta on a header arm leaves the buffer at the tx count
    val buf = java.nio.ByteBuffer.wrap(encode(v1))
    val m = decodeMeta(buf)
    assert(m.header.contains(header) && m.upgrades == upgrades &&
      m.bucketListSizeBytes.contains(1020480L) &&
      m.sorobanFeeWrite1000.contains(1048L))
    assert(decodeTxs(buf) == txs)

    // a header-less frame must not smuggle header-arm payloads
    intercept[IllegalArgumentException](
      encode(Frame(1L, 0L, txs, None, upgrades)))
    // bad upgrade tag is rejected, not misread
    val bad = encode(v0).clone()
    // nUp field is at offset 4+4+8+4+32+8+8+4+4+4 = 80; first tag at 84
    bad(87) = 9
    intercept[IllegalArgumentException](decode(bad))
  }

  test("hyperplane plane-sign golden vectors (the cross-engine LSH contract)") {
    // sha-256("t:p:d") high-nibble parity — independently computed; a
    // format drift here silently re-buckets every LSH oracle, so the exact
    // signs are pinned
    val golden = Seq(
      ((0, 0, 0), 1L), ((0, 0, 1), -1L), ((0, 5, 63), 1L),
      ((3, 2, 17), -1L), ((1, 4, 40), 1L), ((2, 1, 7), -1L))
    golden.foreach { case ((t, p, d), s) =>
      assert(Hyperplane.planeSign(t, p, d) == s, s"($t,$p,$d)")
    }
    // the memoized sign table agrees with the scalar law
    val st = Hyperplane.signTable(dim = 64, bits = 6, tables = 4)
    for (t <- 0 until 4; p <- 0 until 6; d <- 0 until 64)
      assert(st(t * 6 + p)(d) == Hyperplane.planeSign(t, p, d))
  }

  test("shingle extraction golden vectors (normalization, windows, distinct)") {
    def sh(text: String, n: Int): Seq[String] = {
      val arr = Shingles.ngrams(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), n)
      (0 until arr.numElements()).map(i =>
        arr.getUTF8String(i).toString)
    }
    assert(sh("The  Quick\tbrown\nfox", 2) ==
      Seq("the quick", "quick brown", "brown fox"))
    assert(sh("a b a b a", 2) == Seq("a b", "b a"))      // ordered distinct
    assert(sh("one two", 3) == Seq("one two"))            // short doc: whole
    assert(sh("", 2) == Seq(""))                          // empty-doc law
    assert(sh("Straße ÅNGSTRÖM", 1) == Seq("straße", "ångström"))
  }
}
