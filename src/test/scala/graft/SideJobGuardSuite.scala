package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source gate: every driver-side overlap goes through
  * `graft.operators.HotPath` (`overlap` / `inParallel`), whose contract
  * bounds its waits, cancels sibling jobs on failure and keeps the first
  * error. A hand-rolled pool, `Future` or unbounded `Await` elsewhere in
  * the engine would bring back none of that. The probe tools and the
  * driver-contract entry point are outside the engine and exempt.
  */
class SideJobGuardSuite extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val exempt = Set(root.resolve("operators/HotPath.scala"), root.resolve("SparkEntry.scala"))
  private val forbidden = Seq(
    """Duration\.Inf""",
    """Executors\.new\w*ThreadPool""",
    """\bFuture\s*[{(]""",
    """\bFuture\.apply\b""").map(_.r)

  test("no hand-rolled overlap site outside HotPath") {
    val files = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => p.startsWith(root.resolve("tools")) || exempt.contains(p))
      .toSeq
    assert(files.size > 20, s"source tree not found under $root")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if forbidden.exists(_.findFirstIn(line).isDefined)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "overlap Spark jobs with graft.operators.HotPath.overlap / inParallel instead of:\n" +
        hits.mkString("\n"))
  }
}
