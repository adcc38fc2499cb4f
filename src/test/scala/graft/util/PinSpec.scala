package graft.util

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One pin policy: every lineage cut in the engine goes through
  * [[Pin]], so `graft.checkpoint.dir` switches all of them to reliable
  * checkpoints at once. A raw `localCheckpoint` call elsewhere would
  * silently stay executor-local under that setting. */
class PinSpec extends AnyFunSuite {

  test("no localCheckpoint call in src/main/scala outside util/Pin.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val files = Files.walk(root)
    val offenders: Seq[String] =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          !p.endsWith(Paths.get("graft/util/Pin.scala")))
        .flatMap { (p: Path) =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains(".localCheckpoint(") =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }.toSeq
      finally files.close()
    assert(offenders.isEmpty,
      s"pin through graft.util.Pin instead:\n${offenders.mkString("\n")}")
  }
}
