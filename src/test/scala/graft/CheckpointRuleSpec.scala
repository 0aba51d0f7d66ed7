package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The checkpoint rule, held at the source: a lazy local checkpoint is
  * taken only by `CacheScope.checkpointed`, which materializes it before it
  * returns. Any other lazy site fails here with its file and line.
  */
class CheckpointRuleSpec extends AnyFunSuite {

  test("only CacheScope.checkpointed takes a lazy local checkpoint in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val lazySite = raw"eager\s*=\s*false|localCheckpoint\(\s*false".r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def hits(f: Path): Seq[(Int, String)] =
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if lazySite.findFirstIn(line).nonEmpty => (i + 1, line)
      }.toSeq
    val helper = root.resolve("graft/ops/CacheScope.scala")
    // the helper's body: from its def to the next def
    val lines = Files.readAllLines(helper).asScala
    val start = lines.indexWhere(_.contains("def checkpointed")) + 1
    val end = lines.indexWhere(_.trim.startsWith("private[graft] def"), start)
    assert(start > 0 && end > start, "CacheScope.checkpointed not found")
    val outside = files.flatMap(f => hits(f).collect {
      case (n, line) if !(f == helper && n > start && n <= end) =>
        s"${root.relativize(f)}:$n: ${line.trim}"
    })
    assert(outside.isEmpty,
      "lazy local checkpoints outside CacheScope.checkpointed:\n" +
        outside.mkString("\n"))
    assert(hits(helper).size === 1, "the helper takes its checkpoint lazily, once")
  }
}
