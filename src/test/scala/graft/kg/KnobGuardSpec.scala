package graft.kg

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** No environment switch steers the KG pipeline: a variant either wins
  * its A/B and becomes the code, or it is deleted. The one allowed read
  * is the golden-file directory. */
class KnobGuardSpec extends AnyFunSuite {

  test("graft.kg reads no environment variable except SPARK_GRAFT_GOLDEN_DIR") {
    val root = Paths.get("src/main/scala/graft/kg")
    assert(Files.isDirectory(root), s"$root not found; run from the repository root")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(sources.nonEmpty)
    def allowed(f: Path, line: String): Boolean =
      f.getFileName.toString == "Golden.scala" &&
        line.contains("sys.env.getOrElse(\"SPARK_GRAFT_GOLDEN_DIR\"")
    val reads = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if (line.contains("sys.env") || line.contains("System.getenv")) &&
        !allowed(f, line)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(reads.isEmpty, reads.mkString("env reads found:\n", "\n", ""))
  }
}
