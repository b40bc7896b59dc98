package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Ratchet on the lake read path: every lake read (engine scans, DML and
  * merge scans, `lake.*` SQL, streams) goes through the `graft-lake`
  * connector's relation, which plans splits from the manifest. The
  * engine packages and the connector therefore must not build a second
  * read path: no `spark.read.parquet`, no file-listing index, no
  * `_metadata` columns, and no session-wide split-sizing conf. Reading
  * the user's `minPartitionNum` stays allowed (the planner honours it).
  * Registry queries, fixtures and the `Bench*`/`Verify`/`Explain`
  * harness read raw parquet inputs and live outside the scanned paths. */
class ReadPathInventorySpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala/graft")
  private val scanned: Seq[Path] =
    Seq("scan", "commands", "sqlext", "format", "write").map(main.resolve) :+
      main.resolve("streaming/LakeStreamSource.scala")

  private val forbidden = Seq(
    ".read.parquet(" -> "a v1 parquet read",
    "InMemoryFileIndex" -> "a file-listing index",
    "_metadata." -> "a file-source metadata column")

  // conf.set of the split-count conf, by literal or through a val
  private val setsMinPartitionNum = """(?i)conf\.set\(\s*[^,]*min_?partition_?num""".r
  private val boundToKey = """val\s+(\w+)\s*=\s*"[^"]*minPartitionNum[^"]*"""".r

  private def sources: Seq[Path] = scanned.flatMap { p =>
    assert(Files.exists(p), s"scanned path $p is gone; update the ratchet")
    if (Files.isDirectory(p))
      Files.walk(p).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    else Seq(p)
  }

  test("no second read path in the engine packages or the connector") {
    val hits = sources.flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      val keyVals = boundToKey.findAllMatchIn(text).map(_.group(1)).toSet
      text.linesIterator.zipWithIndex.flatMap { case (line, i) =>
        forbidden.collect { case (s, why) if line.contains(s) => s"$f:${i + 1}: $why: $line" } ++
          (if (setsMinPartitionNum.findFirstIn(line).isDefined ||
               keyVals.exists(v => line.contains(s"conf.set($v")))
             Seq(s"$f:${i + 1}: sets minPartitionNum: $line")
           else Nil)
      }
    }
    assert(sources.size > 10, s"only ${sources.size} files scanned")
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
