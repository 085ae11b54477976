package perfbench

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Check of the ingest output checks, run by perfbench/tests: one ingest
  * pass over a small dump must pass every check, and a planted wrong row
  * in the anchor output or a missing diff file must be caught.
  *
  * `perfbench.SelfTest <dump dir> <work dir>`; exits 1 on a failure.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val dump = Paths.get(args(0))
    val work = Paths.get(args(1))
    val spark = Main.session(2)
    val w = new Main.Ingest(spark, dump, DumpGen.Tally.read(dump.resolve("tally.txt")), work)
    w.ops.foreach(_.run())
    val clean = w.verify()

    val part = Files.list(Paths.get(w.anchorsXml)).filter(_.toString.endsWith(".csv"))
      .findFirst().get()
    Files.write(part, "2001-01-01T00:00:00.000Z\t1\t999999999\t0\ta\tb\n".getBytes("UTF-8"),
      StandardOpenOption.APPEND)
    val plantedRow = w.verify()

    w.ops.foreach(_.run())
    Files.list(Paths.get(w.diffs)).filter(_.toString.endsWith(".parquet"))
      .findFirst().ifPresent(p => Files.delete(p))
    val missingDiffs = w.verify()
    spark.stop()

    val failures = Seq(
      if (clean.nonEmpty) Some(s"clean pass flagged: $clean") else None,
      if (plantedRow.isEmpty) Some("planted anchor row not caught") else None,
      if (missingDiffs.isEmpty) Some("missing diff file not caught") else None).flatten
    failures.foreach(f => System.err.println(s"SELFTEST FAILED: $f"))
    println(if (failures.isEmpty) "SELFTEST ok" else "SELFTEST failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
