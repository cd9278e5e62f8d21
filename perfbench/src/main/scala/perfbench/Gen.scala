package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import graft.codec.{Hashes, XdrEncode}
import graft.model.LedgerModel.AssetRef
import graft.sources.{LcmBatchFiles, RealXdrFixture}

/** The benchmark's seeded input generator: a datastore tree of zstd
  * `LedgerCloseMetaBatch` objects (one ledger per object, the public
  * object-key law). What every ledger holds is a pure function of (spec,
  * seed), so the runner recomputes it with [[plan]] to derive the expected
  * output instead of reading anything back from the tree.
  *
  * Each ledger carries `txLo..txHi` transactions (count drawn from the
  * seed); each transaction is either a soroban invoke (the
  * [[RealXdrFixture.tx]] shape) or a classic native payment (the law
  * below), chosen from the seed with probability `sorobanPct`%. The same
  * (spec, seed) gives a byte-identical tree: every draw comes from a
  * per-ledger `SplittableRandom(seed, seq)` and zstd output is a pure
  * function of its input.
  *
  * Classic payment law (tx `t` of ledger `seq`): source sha256("pay-src-
  * seq-t"), destination sha256("pay-dst-((seq+t)%16)"), amount 1000000 +
  * seq + t stroops, max fee 200 + t, seqNum 10·seq + t, fee_charged 100 +
  * (seq+t)%97, one payment op, empty op meta.
  *
  * `corrupt` ledgers get an object that does not decode: even positions a
  * valid zstd frame over the first half of the XDR batch, odd positions a
  * zstd frame cut in half. */
object Gen {

  /** One tree. `start` is checkpoint-aligned (≡ 0 mod 64). */
  final case class Spec(start: Long, ledgers: Int,
      txLo: Int, txHi: Int, sorobanPct: Int, corrupt: Int = 0,
      corruptWithin: (Long, Long) = (0L, -1L)) {
    def end: Long = start + ledgers - 1
  }

  /** What one ledger holds: per tx position, soroban (true) or classic. */
  final case class Ledger(seq: Long, soroban: Vector[Boolean])

  /** A generated tree: its ledgers and the sequences whose objects were
    * planted corrupt. */
  final case class Tree(spec: Spec, ledgers: Vector[Ledger],
      corrupt: Vector[Long]) {
    def in(lo: Long, hi: Long): Vector[Ledger] =
      ledgers.filter(l => l.seq >= lo && l.seq <= hi)
    def decodable(lo: Long, hi: Long): Vector[Ledger] =
      in(lo, hi).filterNot(l => corrupt.contains(l.seq))
  }

  /** The tree's content as a pure function of (spec, seed). */
  def plan(spec: Spec, seed: Long): Tree = {
    val ledgers = (0 until spec.ledgers).toVector.map { i =>
      val seq = spec.start + i
      val rng = new SplittableRandom(seed * 1000003L + seq)
      val n = spec.txLo + rng.nextInt(spec.txHi - spec.txLo + 1)
      Ledger(seq, Vector.fill(n)(rng.nextInt(100) < spec.sorobanPct))
    }
    val (lo, hi) = spec.corruptWithin
    val rng = new SplittableRandom(seed ^ 0x5eedL)
    val pool = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (pool.size < spec.corrupt)
      pool += lo + rng.nextInt((hi - lo + 1).toInt)
    Tree(spec, ledgers, pool.toVector.sorted)
  }

  private def key(s: String): Array[Byte] = Hashes.sha256(s.getBytes("UTF-8"))
  private val native = AssetRef("native", "", "")

  def paymentFeeCharged(seq: Long, t: Long): Long = 100L + (seq + t) % 97
  def sorobanFeeCharged(seq: Long, t: Long): Long = 90000L + seq % 977 + t

  def paymentTx(seq: Long, t: Long): XdrEncode.LcmTx = {
    val src = key(s"pay-src-$seq-$t")
    val env = XdrEncode.txEnvelopeV1(XdrEncode.TxSpec(
      sourceKey = src, fee = 200L + t, seqNum = 10 * seq + t,
      ops = Seq(XdrEncode.paymentOp(key(s"pay-dst-${(seq + t) % 16}"),
        native, 1000000L + seq + t)),
      signatureSeed = ((seq + t) % 120).toByte))
    val charged = paymentFeeCharged(seq, t)
    XdrEncode.LcmTx(env,
      XdrEncode.txResult(charged, 0, Seq(XdrEncode.OpResultSpec(1, 0))),
      XdrEncode.txMetaV3(XdrEncode.TxMetaV3Spec(opChanges = Seq(Nil))),
      XdrEncode.feeMetaPair(src, 1000000000L, 1000000000L - charged))
  }

  def lcm(l: Ledger): Array[Byte] = {
    val header = XdrEncode.ledgerHeader(XdrEncode.HeaderSpec(
      seq = l.seq, closeTime = 1700000000L + 5 * l.seq))
    val txs = l.soroban.zipWithIndex.map { case (s, t) =>
      if (s) RealXdrFixture.tx(l.seq, t.toLong) else paymentTx(l.seq, t.toLong)
    }
    XdrEncode.ledgerCloseMetaV1(header, txs)
  }

  private def zstd(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new com.github.luben.zstd.ZstdOutputStream(bos)
    try out.write(b) finally out.close()
    bos.toByteArray
  }

  /** Write the tree under `root` (which must not exist yet). */
  def write(root: Path, tree: Tree): Unit = {
    Files.createDirectories(root)
    tree.ledgers.foreach { l =>
      val batch = lcm(l)
      val ci = tree.corrupt.indexOf(l.seq)
      if (ci < 0) LcmBatchFiles.writeObject(root, l.seq, l.seq, Seq(batch))
      else {
        val whole = XdrEncode.ledgerCloseMetaBatch(l.seq, l.seq, Seq(batch))
        val bytes =
          if (ci % 2 == 0) zstd(java.util.Arrays.copyOf(whole, whole.length / 2))
          else { val z = zstd(whole); java.util.Arrays.copyOf(z, z.length / 2) }
        val target = root.resolve(LcmBatchFiles.objectKey(l.seq))
        Files.createDirectories(target.getParent)
        Files.write(target, bytes)
      }
    }
  }

  /** Generate the tree for (spec, seed) at `dir` unless a complete one is
    * already there; the marker file is written last. */
  def ensure(dir: Path, spec: Spec, seed: Long): Tree = {
    val tree = plan(spec, seed)
    val done = dir.resolve("COMPLETE")
    if (!Files.exists(done)) {
      if (Files.exists(dir)) deleteTree(dir)
      write(dir.resolve("tree"), tree)
      Files.write(done, Array.emptyByteArray)
    }
    tree
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Command-line entry: `Gen <dir> <spec-name> <seed>` writes one tree. */
  def main(argv: Array[String]): Unit = {
    val Array(dir, name, seed) = argv
    ensure(Paths.get(dir), Workloads.treeSpec(name, seed.toLong), seed.toLong)
  }
}
