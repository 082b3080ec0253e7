package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.BlockLoss
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** runCheckpointed keeps several units in flight: their jobs overlap, the
  * output and commits equal a one-unit-at-a-time run, a failed unit stops
  * further claims and is rethrown with every lock released, and no unit
  * thread outlives the call. */
class RunCheckpointedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val units = 8

  private def input: DataFrame = spark.range(0, 4000)
    .withColumn("unit", (col("id") % units).cast("string"))
    .withColumn("p", col("id") % 3)

  // 20 slow rows in every unit, so one unit's job is still running when
  // the next unit's job starts
  private val slow = {
    val n = units // a local, so the closure does not capture the suite
    udf { (x: Long) => if ((x / n) % 25 == 0) Thread.sleep(4); x * 2 }
  }
  private def process(d: DataFrame): DataFrame = d.withColumn("doubled", slow(col("id")))

  private def manifestUnits(root: String): Seq[String] = {
    val p = Paths.get(s"$root/out_manifest.jsonl")
    if (!Files.exists(p)) Nil
    else Files.readAllLines(p).asScala.toSeq
      .flatMap(l => """"unit":"([^"]+)"""".r.findFirstMatchIn(l).map(_.group(1)))
  }

  private def locksLeft(root: String): Seq[String] = {
    val dir = Paths.get(s"$root/out/_unit_locks")
    if (!Files.exists(dir)) Nil
    else { val s = Files.list(dir); try s.iterator.asScala.map(_.getFileName.toString).toList finally s.close() }
  }

  private def unitThreadsAlive: Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.isAlive).map(_.getName)
      .filter(_.startsWith("graft-unit"))

  private def rows(root: String) =
    spark.read.parquet(s"$root/out").select("id", "unit", "p", "doubled").orderBy("id").collect().toSeq

  test("units run as overlapping jobs and the output equals a one-unit-at-a-time run row for row") {
    val sc = spark.sparkContext
    val listener = new SparkListener {
      private var active = 0
      var maxActive = 0
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        active += 1; maxActive = math.max(maxActive, active)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { active -= 1 }
    }
    val root = Files.createTempDirectory("tableio_flight").toString
    sc.addSparkListener(listener)
    val leftover =
      try new ManifestParquetIO(root).runCheckpointed(input, "unit", "out", Seq("p"))(process)
      finally { BlockLoss.drainListenerBus(sc); sc.removeSparkListener(listener) }
    assert(leftover.isEmpty)
    assert(listener.synchronized(listener.maxActive) > 1, "no two unit jobs were ever active at once")
    assert(unitThreadsAlive.isEmpty, s"unit threads outlived the call: $unitThreadsAlive")

    // reference: one runCheckpointed call per unit, so one unit in flight
    val refRoot = Files.createTempDirectory("tableio_serial").toString
    val ref = new ManifestParquetIO(refRoot)
    for (u <- 0 until units)
      assert(ref.runCheckpointed(input.filter(col("unit") === u.toString), "unit", "out", Seq("p"))(process).isEmpty)

    assert(manifestUnits(root).sorted == manifestUnits(refRoot).sorted)
    assert(manifestUnits(root).sorted == (0 until units).map(_.toString))
    val got = rows(root)
    assert(got.size == 4000)
    assert(got == rows(refRoot))
    assert(locksLeft(root).isEmpty)
  }

  test("a failed unit is rethrown, claims stop, every lock is released, and a rerun commits exactly the remainder") {
    val root = Files.createTempDirectory("tableio_fail").toString
    val io = new ManifestParquetIO(root)
    val boom = new IllegalStateException("unit 5 failed")
    val thrown = intercept[IllegalStateException] {
      io.runCheckpointed(input, "unit", "out", Seq("p")) { d =>
        if (d.select("unit").head().getString(0) == "5") throw boom
        process(d)
      }
    }
    assert(thrown eq boom)
    assert(locksLeft(root).isEmpty, s"locks left: ${locksLeft(root)}")
    assert(unitThreadsAlive.isEmpty, s"unit threads outlived the call: $unitThreadsAlive")

    val first = manifestUnits(root)
    assert(!first.contains("5"))
    assert(first.distinct == first, s"a unit was committed twice: $first")

    assert(io.runCheckpointed(input, "unit", "out", Seq("p"))(process).isEmpty)
    val all = manifestUnits(root)
    assert(all.drop(first.size).sorted == (0 until units).map(_.toString).filterNot(first.contains))
    assert(all.sorted == (0 until units).map(_.toString))
    assert(rows(root).map(_.getLong(0)) == (0L until 4000L))
    assert(unitThreadsAlive.isEmpty)
  }
}
