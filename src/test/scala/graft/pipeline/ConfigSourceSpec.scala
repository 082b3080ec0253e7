package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source guards for the config layer: the tests and the catalog read
  * only the configs shipped under src/main/resources/config/, never a
  * checkout of the reference project, and every YAML file goes through
  * the one reader, [[YamlVars]].
  */
class ConfigSourceSpec extends AnyFunSuite {

  private def files(root: String, suffix: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(suffix)).toList
    finally walk.close()
  }

  test("no source file names a path into a reference checkout") {
    // split so this file does not match
    val marker = "/refer" + "ence/"
    val sites = files("src", "")
      .filter(p => new String(Files.readAllBytes(p), "ISO-8859-1").contains(marker))
      .map(_.toString)
    assert(sites.isEmpty, s"files naming a reference checkout path: $sites")
  }

  test("one YAML reader: only YamlVars constructs a YAMLFactory") {
    val sites = files("src/main/scala", ".scala")
      .filter(p => Files.readString(p).contains("YAML" + "Factory("))
      .map(_.toString)
    assert(sites == Seq("src/main/scala/graft/pipeline/YamlVars.scala"))
  }
}
