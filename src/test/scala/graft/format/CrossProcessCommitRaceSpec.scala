package graft.format

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Round-18 (round-17 verdict #5): the commit-exclusivity claims of the
  * two local bindings are CROSS-PROCESS claims — hard-link CAS and
  * rename are kernel primitives, so an in-JVM race (ConcurrencyStressSpec)
  * can't falsify them. This spec spawns two real JVMs ([[RaceWorker]])
  * racing `putIfAbsent` over 100 versions of the same table and checks
  * the ledger both processes print against the surviving files:
  *
  *  - [[LocalCommitStore]] (hard-link CAS): EXACTLY one winner per
  *    version, and the surviving content is the claimed winner's — no
  *    double-wins, no lost commits, ever.
  *  - [[HadoopCommitStore]] on file:// : at least one winner per
  *    version and the SURVIVING content always belongs to a claimed
  *    winner (a loser's content never silently lands). The inverse
  *    window its class doc states — a racer replacing a rename that
  *    already read-back-verified — is a real possibility on
  *    local-class filesystems, so double-wins are COUNTED and reported
  *    rather than asserted to zero; that documented boundary is why
  *    cross-process local racing is pointed at LocalCommitStore.
  */
class CrossProcessCommitRaceSpec extends AnyFunSuite {

  private val Rounds = 100

  /** (winnersByVersion, errLines) parsed from both workers' ledgers. */
  private def race(kind: String): (Map[Int, Seq[String]], Seq[String], java.nio.file.Path) = {
    val dir = Files.createTempDirectory(s"xproc-$kind-")
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    // inherit the module opens the forked test JVM runs with (Hadoop on
    // JDK 17); drop memory/GC flags — the workers are tiny
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        a.startsWith("--add-opens") || a.startsWith("--add-exports")).toSeq
    def spawn(id: String): Process =
      new ProcessBuilder(
        (Seq(javaBin) ++ opens ++ Seq("-Xmx256m", "-cp", sys.props("java.class.path"),
          "graft.format.RaceWorker", kind, dir.toString, id, Rounds.toString)): _*)
        .redirectError(dir.resolve(s"stderr-$id").toFile)
        .start()
    val a = spawn("A")
    val b = spawn("B")
    // two-way barrier: each child classloads, warms up one put, writes
    // READY-<id>, then spins; START only lands once BOTH are spinning,
    // so the attempt loops genuinely overlap
    val barrierDeadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!(Files.exists(dir.resolve("READY-A")) && Files.exists(dir.resolve("READY-B")))) {
      assert(System.nanoTime() < barrierDeadline, s"$kind workers never reached READY")
      Thread.sleep(10)
    }
    // shared epoch a little in the future: both workers pin version v's
    // attempt to epoch + v*slot, so every version is a genuine race
    Files.writeString(dir.resolve("START"),
      (System.currentTimeMillis() + 100).toString)
    def ledger(p: Process, id: String): Seq[String] = {
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS), s"$kind worker hung")
      def err = try Files.readString(dir.resolve(s"stderr-$id")) catch { case _: Exception => "" }
      assert(p.exitValue() == 0,
        s"$kind worker $id exited ${p.exitValue()}:\n$out\nstderr:\n$err")
      out.linesIterator.toSeq
    }
    val (la, lb) = (ledger(a, "A"), ledger(b, "B"))
    def wins(lines: Seq[String], id: String): Seq[(Int, String)] =
      lines.collect { case l if l.startsWith("WIN ") => (l.drop(4).trim.toInt, id) }
    val winners = (wins(la, "A") ++ wins(lb, "B"))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val errs = (la ++ lb).filter(_.startsWith("ERR"))
    (winners, errs, dir)
  }

  private def survivingWriter(dir: java.nio.file.Path, v: Int): String = {
    val txt = Files.readString(dir.resolve(s"v$v.json"))
    if (txt.contains("\"writer\":\"A\"")) "A"
    else if (txt.contains("\"writer\":\"B\"")) "B"
    else fail(s"v$v.json holds neither writer: $txt")
  }

  test("LocalCommitStore hard-link CAS: exactly one cross-process winner per version") {
    val (winners, errs, dir) = race("local")
    try {
      assert(errs.isEmpty, s"unexpected worker errors: $errs")
      (1 to Rounds).foreach { v =>
        val w = winners.getOrElse(v, Nil)
        assert(w.size == 1, s"version $v: winners=$w (want exactly one)")
        assert(survivingWriter(dir, v) == w.head,
          s"version $v: survivor != claimed winner $w — lost commit")
      }
      // contention sanity: a one-sided split suggests the processes ran
      // serialized and the race never happened. Informational only —
      // slot pinning reduces but cannot eliminate the chance one
      // process wins all rounds on a loaded box, and a scheduling
      // artifact must not read as a correctness failure. The exclusivity
      // and survivor assertions above are the real invariants.
      val aWins = winners.values.count(_.head == "A")
      info(s"local win split: A=$aWins B=${Rounds - aWins}")
      if (aWins == 0 || aWins == Rounds)
        info(s"WARNING: one-sided split A=$aWins/$Rounds — contention " +
          "may not have occurred this run (loaded box?)")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("HadoopCommitStore on file://: survivors are always claimed winners") {
    val (winners, errs, dir) = race("hadoop")
    val store = new HadoopCommitStore(new org.apache.hadoop.conf.Configuration())
    try {
      assert(errs.isEmpty, s"unexpected worker errors: $errs")
      var doubleWins = 0
      (1 to Rounds).foreach { v =>
        val w = winners.getOrElse(v, Nil)
        assert(w.nonEmpty, s"version $v: no process won (stuck version)")
        if (w.size > 1) doubleWins += 1
        // the invariant the read-back verify DOES provide everywhere:
        // content that survives was written by a process that claimed
        // the win — a loser's bytes never silently become the version
        assert(w.contains(survivingWriter(dir, v)),
          s"version $v: surviving content is a LOSER's — silent commit loss")
        // and it reads back through the store: no racer's checksum
        // sidecar is left over a winner's bytes
        assert(new String(store.readBytes(dir, s"v$v.json"), "UTF-8") ==
          Files.readString(dir.resolve(s"v$v.json")), s"version $v: unreadable through the store")
      }
      // informational: the documented local-FS inverse window
      info(s"hadoop/file:// double-win versions: $doubleWins / $Rounds " +
        "(documented local-class boundary; LocalCommitStore is the local primitive)")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
