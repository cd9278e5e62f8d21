package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.sources.LcmBatchFiles

/** The benchmark's own checks (`python3 perfbench/run.py --self-test`):
  *   1. the generator is deterministic: one seed, byte-identical trees;
  *      another seed, a different tree; the laws match the tree;
  *   2. the counting file system counts a 3-object tree's opens and bytes;
  *   3. prefix P4 (`ledgerRowsForRange(...).queryExecution.toRdd.count()`)
  *      and prefix P3's decoded ledgers equal `ledgerRowsForRange` counts.
  * Exits non-zero on the first failed check. */
object SelfTest {

  private def check(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) sys.exit(1)
  }

  private def files(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try {
      val b = Map.newBuilder[String, Seq[Byte]]
      s.filter(Files.isRegularFile(_)).forEach(p =>
        b += root.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      b.result()
    } finally s.close()
  }

  def main(argv: Array[String]): Unit = {
    val dir = Paths.get(argv(0)).toAbsolutePath
    Gen.deleteTree(dir)
    val spec = Gen.Spec(64000L, 8, 0, 3, 50, corrupt = 2,
      corruptWithin = (64002L, 64005L))

    // 1. determinism
    val a = Gen.ensure(dir.resolve("a"), spec, 7L)
    Gen.ensure(dir.resolve("b"), spec, 7L)
    Gen.ensure(dir.resolve("c"), spec, 8L)
    val fa = files(dir.resolve("a/tree"))
    check(fa.size == 8, s"tree has one object per ledger (${fa.size})")
    check(fa == files(dir.resolve("b/tree")), "same seed gives a byte-identical tree")
    check(fa != files(dir.resolve("c/tree")), "another seed gives another tree")
    check(a.corrupt.size == 2 && a.corrupt.forall(s => s >= 64002L && s <= 64005L),
      s"corrupt objects planted inside their slice (${a.corrupt})")

    val spark = graft.cli.Export.session()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.hadoopConfiguration
      .set(CountingFs.ConfKey, classOf[CountingFs].getName)

    // 2. the counting wrapper on a 3-object tree
    val three = dir.resolve("three")
    val t3 = Gen.ensure(three, Gen.Spec(64000L, 3, 1, 2, 50), 3L)
    val root3 = three.resolve("tree").toString
    val sizes = (64000L to 64002L).map(s =>
      Files.size(Paths.get(root3, LcmBatchFiles.objectKey(s))))
    CountingFs.reset()
    val n3 = LcmBatchFiles.ledgerRowsForRange(spark,
      CountingFs.uriOf(root3), 64000L, 64002L).count()
    check(n3 == 3, s"3 ledgers read through the wrapper ($n3)")
    check(CountingFs.objectsOpened == 3 && CountingFs.openedPaths.size == 3,
      s"3 objects opened once each (${CountingFs.openedPaths})")
    check(CountingFs.bytesRead.get() == sizes.sum,
      s"bytes read ${CountingFs.bytesRead.get()} == object bytes ${sizes.sum}")
    CountingFs.reset()
    LcmBatchFiles.ledgerRowsForRange(spark, CountingFs.uriOf(root3),
      64001L, 64001L).count()
    check(CountingFs.objectsOpened == 1, "a 1-ledger range opens 1 object")

    // 3. prefix row counts against ledgerRowsForRange
    val fileTree = "file://" + dir.resolve("a/tree").toString
    val direct = LcmBatchFiles.ledgerRowsForRange(spark, fileTree, 64000L, 64001L)
    val p4 = direct.queryExecution.toRdd.count()
    val paths = (64000L to 64001L).map(s => s"$fileTree/${LcmBatchFiles.objectKey(s)}")
    val (p3Ledgers, p3Txs) = Prefix.run(spark, paths, 3)
    val want = a.in(64000L, 64001L)
    check(p4 == direct.count() && p4 == want.size,
      s"P4 rows $p4 == ledgerRowsForRange count ${direct.count()} == ${want.size}")
    check(p3Ledgers == p4 && p3Txs == want.map(_.soroban.size).sum,
      s"P3 decodes $p3Ledgers ledgers / $p3Txs txs")
    val t3Txs = Prefix.run(spark, (64000L to 64002L).map(s =>
      s"file://$root3/${LcmBatchFiles.objectKey(s)}"), 3)._2
    check(t3Txs == t3.ledgers.map(_.soroban.size).sum, s"P3 txs on the 3-object tree ($t3Txs)")

    spark.stop()
    Gen.deleteTree(dir)
    println("self-test passed")
  }
}
