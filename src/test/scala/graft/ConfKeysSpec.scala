package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The `spark.ann.*` session keys the engine reads and the README's
  * configuration table name the same set: a knob added without a row,
  * or a row that outlives its knob, fails here. */
class ConfKeysSpec extends AnyFunSuite {

  private val Key = "spark\\.ann\\.[A-Za-z0-9_.]+"

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  private def sourceKeys: Set[String] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "no main sources found from the working directory")
    val literal = ("\"(" + Key + ")\"").r
    files.flatMap(f => literal.findAllMatchIn(read(f)).map(_.group(1))).toSet
  }

  private def readmeKeys: Set[String] = {
    val row = ("(?m)^\\| `(" + Key + ")` \\|").r
    row.findAllMatchIn(read(Paths.get("README.md"))).map(_.group(1)).toSet
  }

  test("README's configuration table lists exactly the spark.ann keys main sources read") {
    val src = sourceKeys
    val doc = readmeKeys
    assert((src -- doc).isEmpty, "keys read in src/main/scala without a README row")
    assert((doc -- src).isEmpty, "README rows for keys no main source reads")
    assert(src.size == 18, s"spark.ann keys: ${src.toSeq.sorted.mkString(", ")}")
  }
}
