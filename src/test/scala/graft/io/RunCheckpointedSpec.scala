package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.BlockLoss
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** runCheckpointed keeps several units in flight: their jobs overlap, the
  * output and commits equal a one-unit-at-a-time run, a failed unit stops
  * further claims and is rethrown with every lock released, and no unit
  * thread outlives the call. One shuffle feeds every unit: the input is
  * computed once, only pending rows are shuffled, each unit sees `df`'s
  * schema, and the shuffle is gone once the call returns. */
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

  /** Watches the unit shuffle: a job stage reading a `ShuffledRDD` is a
    * unit write, and its parent stage is the shared map stage. Also sums
    * the shuffle records each stage's tasks wrote. */
  private class UnitShuffleProbe extends SparkListener {
    private val mapStages = scala.collection.mutable.Map.empty[Int, Int] // stage id -> shuffle id
    private val written = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val byId = e.stageInfos.map(s => s.stageId -> s).toMap
      for (s <- e.stageInfos if s.rddInfos.exists(_.name == "ShuffledRDD"); p <- s.parentIds)
        BlockLoss.shuffleIdOf(byId(p)).foreach(mapStages(p) = _)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null) written(e.stageId) += e.taskMetrics.shuffleWriteMetrics.recordsWritten
    }
    def shuffleIds: Set[Int] = synchronized(mapStages.values.toSet)
    def rowsShuffled: Long = synchronized(mapStages.keys.toSeq.map(written).sum)
  }

  private def probed[A](body: => A): (A, UnitShuffleProbe) = {
    val sc = spark.sparkContext
    val probe = new UnitShuffleProbe
    sc.addSparkListener(probe)
    try (body, probe) finally { BlockLoss.drainListenerBus(sc); sc.removeSparkListener(probe) }
  }

  private def nonDaemonThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon).toSet

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
    val before = nonDaemonThreads
    sc.addSparkListener(listener)
    val leftover =
      try new ManifestParquetIO(root).runCheckpointed(input, "unit", "out", Seq("p"))(process)
      finally { BlockLoss.drainListenerBus(sc); sc.removeSparkListener(listener) }
    assert(leftover.isEmpty)
    assert(listener.synchronized(listener.maxActive) > 1, "no two unit jobs were ever active at once")
    assert(unitThreadsAlive.isEmpty, s"unit threads outlived the call: $unitThreadsAlive")
    assert((nonDaemonThreads -- before).isEmpty, s"non-daemon threads outlived the call: ${nonDaemonThreads -- before}")

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

  test("one shuffle feeds every unit: the input is computed once, and the shuffle is released on return") {
    val sc = spark.sparkContext
    val evals = sc.longAccumulator("input rows computed")
    // nondeterministic, so Catalyst neither duplicates nor pushes filters
    // under it: every computation of an input row counts once here
    val counted = udf { (x: Long) => evals.add(1); x }.asNondeterministic()
    val root = Files.createTempDirectory("tableio_once").toString
    val (leftover, probe) = probed {
      new ManifestParquetIO(root).runCheckpointed(input.withColumn("c", counted(col("id"))), "unit", "out", Seq("p"))(process)
    }
    assert(leftover.isEmpty)
    assert(rows(root).size == 4000)
    // one unit job per unit would compute all 4000 rows 8 times
    assert(evals.value == 4000L, s"input rows computed ${evals.value} times for 4000 rows and $units units")
    assert(probe.rowsShuffled == 4000L)
    assert(probe.shuffleIds.size == 1, s"unit shuffles seen: ${probe.shuffleIds}")
    val id = probe.shuffleIds.head
    assert(!BlockLoss.shuffleRegistered(id), s"shuffle $id is still registered with the map-output tracker")
    assert(BlockLoss.shuffleFiles(id).isEmpty, s"shuffle $id left files: ${BlockLoss.shuffleFiles(id)}")
  }

  test("a failed call releases its shuffle too") {
    val root = Files.createTempDirectory("tableio_fail_release").toString
    val (_, probe) = probed {
      intercept[IllegalStateException] {
        new ManifestParquetIO(root).runCheckpointed(input, "unit", "out", Seq("p")) { d =>
          if (d.select("unit").head().getString(0) == "5") throw new IllegalStateException("unit 5 failed")
          process(d)
        }
      }
    }
    assert(probe.shuffleIds.size == 1, s"unit shuffles seen: ${probe.shuffleIds}")
    assert(!BlockLoss.shuffleRegistered(probe.shuffleIds.head))
    assert(BlockLoss.shuffleFiles(probe.shuffleIds.head).isEmpty)
  }

  test("a rerun after half the units committed shuffles only the other half's rows") {
    val root = Files.createTempDirectory("tableio_half").toString
    val io = new ManifestParquetIO(root)
    val half = (0 until units / 2).map(_.toString)
    val (_, first) = probed(io.runCheckpointed(input.filter(col("unit").isin(half: _*)), "unit", "out", Seq("p"))(process))
    assert(first.rowsShuffled == 2000L)
    assert(io.committedUnits("out") == half.toSet)

    val (leftover, rerun) = probed(io.runCheckpointed(input, "unit", "out", Seq("p"))(process))
    assert(leftover.isEmpty)
    assert(rerun.rowsShuffled == 2000L, s"rerun shuffled ${rerun.rowsShuffled} rows, the uncommitted half has 2000")
    assert(io.committedUnits("out") == (0 until units).map(_.toString).toSet)
    assert(rows(root).map(_.getLong(0)) == (0L until 4000L))
  }

  test("an int unit column gives the same output as its string cast") {
    def run(unit: DataFrame => DataFrame): (Seq[String], Seq[org.apache.spark.sql.Row]) = {
      val root = Files.createTempDirectory("tableio_int").toString
      val base = spark.range(0, 4000).withColumn("p", col("id") % 3)
      assert(new ManifestParquetIO(root).runCheckpointed(unit(base), "unit", "out", Seq("p"))(process(_).drop("unit")).isEmpty)
      (manifestUnits(root).sorted,
        spark.read.parquet(s"$root/out").select("id", "p", "doubled", "unit").orderBy("id").collect().toSeq)
    }
    val asInt = run(_.withColumn("unit", (col("id") % units).cast("int")))
    val asString = run(_.withColumn("unit", (col("id") % units).cast("int").cast("string")))
    assert(asInt._1 == (0 until units).map(_.toString))
    assert(asInt == asString)
  }

  test("process sees the input's schema: names, types and nullability, and no key column") {
    val root = Files.createTempDirectory("tableio_schema").toString
    val df = input
      .withColumn("maybe", when(col("id") % 7 === 0, lit(null)).otherwise(col("id").cast("string")))
      .withColumn("tags", array(lit("a"), col("unit")))
    assert(df.schema.exists(_.nullable) && df.schema.exists(!_.nullable))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.types.StructType]()
    assert(new ManifestParquetIO(root).runCheckpointed(df, "unit", "out") { d => seen.add(d.schema); d }.isEmpty)
    assert(seen.size == units)
    seen.forEach(s => assert(s == df.schema))
    assert(spark.read.parquet(s"$root/out").count() == 4000)
  }
}
