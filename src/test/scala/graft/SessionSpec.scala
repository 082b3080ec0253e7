package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {

  test("a factory session: shuffle partitions = cores, UI off, UTC, adaptive on") {
    val spark = SparkTestBase.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // Session leaves adaptive execution to Spark's default; pin that it is on
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("under a preset spark.master the session keeps the submitted partitions and UI") {
    assert(Session.settings(cores = 4, masterSet = true) == Seq("spark.sql.session.timeZone" -> "UTC"))
  }

  test("sessions are built only in graft.Session") {
    val builderCall = "SparkSession" + ".builder" // split so this file does not match
    def scalaFiles(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val builders = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .filter(p => Files.readString(p).contains(builderCall))
      .map(_.toString)
    assert(builders == Seq("src/main/scala/graft/Session.scala"))
  }
}
