package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Ratchet on the engine's switch surface: every string literal in
  * `src/main/scala` that names a graft conf, property or environment
  * variable (`"graft.…"`, `"spark.graft.…"`, `"GRAFT_…"`,
  * `"SPARK_GRAFT_…"`) must be on the allowlist below with its reason,
  * and every allowlisted name must still occur. Adding a switch — or
  * deleting one — is therefore a deliberate, visible diff here. The
  * `Bench*`, `Verify` and `Explain` harness entry points are excluded:
  * their environment variables configure a run, not the engine. */
class SwitchInventorySpec extends AnyFunSuite {

  private val Deployment = "deployment setting"
  private val TableProperty = "table property"
  private val Direction1 = "direction-1 timer (stderr diagnostic until phase events replace it)"
  private val NotASwitch = "name that is not a switch"

  private val allowlist: Map[String, String] = Map(
    // read by graft.io.CachingFileSystem from the Hadoop conf
    "graft.cache.assume.immutable" -> Deployment,
    "graft.cache.dir" -> Deployment,
    "graft.cache.expire.ms" -> Deployment,
    "graft.cache.inner.scheme" -> Deployment,
    "graft.cache.max.bytes" -> Deployment,
    "graft.cache.max.file.bytes" -> Deployment,
    "spark.graft.warehouse" -> Deployment,
    "spark.graft.checkpoint.dir" -> Deployment,
    "graft.compact.target-bytes" -> TableProperty,
    "graft.manifest.max-count" -> TableProperty,
    "graft.manifest.merge-min-entries" -> TableProperty,
    "graft.write.bloom-columns" -> TableProperty,
    "GRAFT_MERGE_TIMING" -> Direction1,
    "SPARK_GRAFT_DEBUG" -> Direction1,
    // accumulator names
    "graft.cc.changed" -> NotASwitch,
    "graft.dedup.skew.embedding" -> NotASwitch,
    "graft.dedup.skew.exact_groups" -> NotASwitch,
    "graft.dedup.skew.minhash" -> NotASwitch,
    "graft.dedup.skew.minhash.inc" -> NotASwitch,
    "graft.dedup.skew.simhash" -> NotASwitch,
    // streaming sink commit-metadata keys (the hwm entry is a prefix)
    "graft.stream.batch-id" -> NotASwitch,
    "graft.stream.query-key" -> NotASwitch,
    "graft.stream.hwm." -> NotASwitch,
    // class and method names referenced from generated code
    "graft.functions.MinhashScan.minhashFromText" -> NotASwitch,
    "graft.functions.ShingleScan.hashedShinglesWithMinhash" -> NotASwitch,
    "graft.functions.ShingleScan.jaccardSortedLongs" -> NotASwitch,
    "graft.functions.ShingleScan.shinglesWithMinhash" -> NotASwitch,
    "graft.functions.SimhashScan.simhashFromText" -> NotASwitch,
    "graft.functions.TokenScan." -> NotASwitch,
    "graft.functions.TokenScan.fingerprint" -> NotASwitch,
    "graft.transforms.IcebergHash.hashBytes" -> NotASwitch,
    "graft.transforms.IcebergHash.hashDouble" -> NotASwitch,
    "graft.transforms.IcebergHash.hashLong" -> NotASwitch,
    "graft.transforms.IcebergHash.hashUUID" -> NotASwitch)

  private val harness = Set(
    "Bench.scala", "BenchDml.scala", "BenchStream.scala", "Verify.scala", "Explain.scala")

  // a literal (plain or interpolated) that opens with a switch-shaped name
  private val switchLiteral =
    """"((?:spark\.)?graft\.[A-Za-z0-9_.\-]*|(?:SPARK_)?GRAFT_[A-Za-z0-9_]*)""".r

  private def collected(): Map[String, Seq[String]] = {
    val main = Paths.get("src/main/scala").toAbsolutePath.normalize
    assert(Files.isDirectory(main), s"no $main (tests run with cwd = repo root)")
    val files: Seq[Path] = Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !harness.contains(p.getFileName.toString))
      .toSeq
    files.flatMap { p =>
      val txt = Files.readString(p)
      switchLiteral.findAllMatchIn(txt).map(m => m.group(1) -> main.relativize(p).toString)
    }.groupMap(_._1)(_._2)
  }

  test("every graft switch literal in src/main/scala is allowlisted with a reason") {
    val found = collected()
    val unlisted = found.keySet -- allowlist.keySet
    assert(unlisted.isEmpty,
      "switch names missing from the allowlist (add one with its reason, or delete the switch):\n" +
        unlisted.toSeq.sorted.map(n => s"  $n  (${found(n).distinct.mkString(", ")})").mkString("\n"))
    val stale = allowlist.keySet -- found.keySet
    assert(stale.isEmpty,
      "allowlisted names no longer in src/main/scala (drop them from the list):\n" +
        stale.toSeq.sorted.mkString("\n"))
  }
}
