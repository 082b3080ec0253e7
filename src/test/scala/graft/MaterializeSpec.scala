package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.{BlockLoss, SparkException}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.{ConnectedComponents, IncrementalDedup, MinHashLSH}

/** Drops the blocks of every RDD persisted after it was made, at the
  * end of each job — the block loss an executor loss causes. RDDs that
  * other suites persisted in the shared session are left alone. */
final class BlockDropper(sc: org.apache.spark.SparkContext) extends SparkListener {
  private val before = sc.getPersistentRDDs.keySet
  @volatile var dropped = 0
  override def onJobEnd(end: SparkListenerJobEnd): Unit =
    sc.getPersistentRDDs.keys.filterNot(before).foreach { id =>
      BlockLoss.removeRdd(id)
      dropped += 1
    }
}

class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val docs = spark.read.parquet("src/test/resources/cc_pages_tiny")
    .select(xxhash64(col("url")).as("doc_id"), col("text"))

  private def ids(df: DataFrame): Set[Long] = df.as[Long].collect().toSet

  /** The removal sets the drill compares; the last one forces the
    * distributed star rounds of connected components, which materialize
    * once per round. */
  private def removals(): Seq[Set[Long]] = {
    val corpus = docs.filter(pmod(col("doc_id"), lit(4L)) === 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(4L)) === 1)
    val edges = MinHashLSH.candidateEdges(batch)
    Seq(
      ids(MinHashLSH.removalIds(batch)),
      ids(IncrementalDedup.fuzzyRemovalIds(batch, IncrementalDedup.fuzzyIndex(corpus))),
      ids(ConnectedComponents.run(edges, smallGraphEdges = 0)
        .filter(col("id") =!= col("component")).select("id")))
  }

  test("control: without a checkpoint dir, a materialized frame whose blocks are lost fails") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    val before = sc.getPersistentRDDs.keySet
    val m = Materialize(spark.range(1000).toDF("id"))
    val created = sc.getPersistentRDDs.keySet -- before
    assert(created.nonEmpty, "a local checkpoint keeps its data as persisted blocks")
    created.foreach(BlockLoss.removeRdd)
    intercept[SparkException](m.collect())
  }

  test("drill: under a checkpoint dir, dedup survives block loss after every job") {
    val sc = spark.sparkContext
    val clean = removals()
    assert(clean.forall(_.nonEmpty), "the drill corpus must produce removals")
    val dir = Files.createTempDirectory("graft-materialize")
    val dropper = new BlockDropper(sc)
    try {
      sc.setCheckpointDir(dir.toString)
      sc.addSparkListener(dropper)
      assert(removals() == clean)
      assert(dropper.dropped > 0, "the injected block loss never ran")
      val written = Files.walk(dir)
      try assert(written.iterator.asScala.exists(_.getFileName.toString.startsWith("part-")),
        "no reliable checkpoint was written")
      finally written.close()
    } finally {
      sc.removeSparkListener(dropper)
      BlockLoss.clearCheckpointDir(sc)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("the frame is computed once, with or without a checkpoint dir") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-materialize")
    try for (checkpointDir <- Seq(None, Some(dir.toString))) {
      checkpointDir.foreach(sc.setCheckpointDir)
      val evals = sc.longAccumulator("evals")
      val f = udf((x: Long) => { evals.add(1); x * 2 }).asNondeterministic()
      val m = Materialize(spark.range(1000).select(f(col("id")).as("y")))
      assert(m.count() == 1000 && m.agg(sum("y")).head.getLong(0) == 999000L)
      assert(evals.value == 1000L, s"checkpoint dir $checkpointDir")
    } finally {
      BlockLoss.clearCheckpointDir(sc)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("cleanup: the shared session keeps no checkpoint dir or block-dropping listener") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    assert(BlockLoss.listenersOf[BlockDropper](sc).isEmpty)
  }

  test("materialization happens only in graft.Materialize") {
    // split so this file does not match
    val calls = Seq("localCheck" + "point(", ".check" + "point(")
    def scalaFiles(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val sites = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .filter { p => val s = Files.readString(p); calls.exists(s.contains) }
      .map(_.toString)
    assert(sites == Seq("src/main/scala/graft/Materialize.scala"))
  }
}
