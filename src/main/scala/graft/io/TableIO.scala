package graft.io

import org.apache.spark.{Partitioner, ShuffleDependency}
import org.apache.spark.rdd.{PartitionPruningRDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.UnsafeRowSerializer
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.Materialize
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** Table IO with commit/lineage/resume semantics.
  *
  * Production target is an Iceberg table (`PARTITIONED BY (days(warc_ts),
  * lang)`, atomic snapshot commits); this sandbox has no Iceberg runtime
  * jar offline, so all table access goes through this trait with two
  * impls: [[ManifestParquetIO]] (partitioned parquet + a JSON-lines
  * manifest giving commit/resume semantics) always available, and an
  * Iceberg impl that is a thin `writeTo(...).append()` swap once the
  * runtime jar is on the cluster classpath.
  *
  * Resume contract (north rule): each unit of work (a partition id) is
  * committed to the manifest AFTER its output lands; a rerun anti-joins
  * the committed set and processes only the remainder — the same
  * guarantee the reference gets from atomic file renames
  * (download/base/download.py:77-111) and batched writer manifests
  * (io/writer/base.py:31-105).
  */
trait TableIO {
  def read(spark: SparkSession, table: String): DataFrame
  def write(df: DataFrame, table: String, partitionCols: Seq[String] = Nil): Unit
}

final class ManifestParquetIO(root: String) extends TableIO with Serializable {

  private def path(table: String) = s"$root/$table"
  private def manifestPath(table: String) = Paths.get(s"$root/${table}_manifest.jsonl")

  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(path(table))

  def write(df: DataFrame, table: String, partitionCols: Seq[String] = Nil): Unit = {
    // row count rides the write job itself via observe() — no second
    // pass over input or output (an output re-read would double IO cost
    // at scale just to produce a manifest field)
    val obs = org.apache.spark.sql.Observation()
    val w = df.observe(obs, count(lit(1)).as("rows")).write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path(table))
    appendManifest(table, s"""{"event":"commit","table":"$table","rows":${obs.get("rows")}}""")
  }

  /** Append a lineage record. Synchronized: the unit threads of one
    * [[runCheckpointed]] call append concurrently. */
  def appendManifest(table: String, jsonLine: String): Unit = synchronized {
    Files.createDirectories(Paths.get(root))
    Files.writeString(manifestPath(table), jsonLine + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** True once a whole-table [[write]] commit is recorded for `table`
    * (stage-level resume: rerun reads the table instead of recomputing).
    * Matches only the whole-table event — `unit_commit` lines don't count.
    */
  def committedTable(table: String): Boolean = {
    val p = manifestPath(table)
    Files.exists(p) &&
      scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(p)).asScala
        .exists(_.contains(""""event":"commit""""))
  }

  /** Compute-once stage table: the first run writes + commits `table`,
    * every run (including the first) reads the committed table back —
    * stage-level resume for multi-stage workflows (fuzzy/semantic dedup
    * cache_path). A half-written table from a killed run has no commit
    * line and is simply rewritten.
    */
  def stageTable(spark: SparkSession, table: String)(compute: => DataFrame): DataFrame = {
    if (!committedTable(table)) write(compute, table)
    read(spark, table)
  }

  /** Work units already committed for `table` (for resume). Synchronized
    * with [[appendManifest]], so a read never sees a half-appended line. */
  def committedUnits(table: String): Set[String] = synchronized {
    val p = manifestPath(table)
    if (!Files.exists(p)) return Set.empty
    scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(p)).asScala
      .flatMap(line => unitField.findFirstMatchIn(line).map(_.group(1))).toSet
  }

  private val unitField = """"unit":"([^"]+)"""".r

  /** Checkpointed per-unit run: split the input by a unit column (e.g. a
    * bucketed hash of url, or days(warc_ts)), skip committed units,
    * process and commit the rest unit by unit. Exact resume: a killed run
    * reprocesses only uncommitted units and the final output equals a
    * single-run output. `partitionCols` adds hive-style output
    * partitioning inside each unit (e.g. lang) so downstream reads prune.
    *
    * One shuffle feeds every unit: once the pending units are known, the
    * rows of those units (and only those) are shuffled once, each unit
    * owning its own `ceil(spark.sql.shuffle.partitions / pending)` reduce
    * partitions (at least one). A row's partition within its unit comes
    * from a hash of its bytes, so a retried map task places every row
    * where the first attempt did. Unit u's frame reads only u's reduce
    * partitions and has `df`'s schema. So the input is read twice per
    * call (the unit listing and the shuffle's map stage), not once per
    * unit, and each unit writes from its own few partitions. The frame
    * `process` sees is read from the shuffle, so `input_file_name()` is
    * empty there. The shuffle's files and map outputs are released when
    * the call returns, whether it succeeds or fails.
    *
    * Units in flight: up to `min(pending units, defaultParallelism)`
    * units run at once, one daemon driver thread (`graft-unit-N`) per
    * unit, each submitting its own process → write job. Spark runs jobs
    * from several threads side by side: the first unit job computes the
    * shared map stage and the others wait for it rather than recompute
    * it. The FIFO pool orders tasks by job id, so units claimed in
    * sorted order finish roughly in that order, while the cores one unit
    * leaves idle (its task tail, its commit, the next unit's planning)
    * run the next unit's tasks. Each unit still commits on its own, so a
    * crash loses at most the units in flight (and the shuffle; a rerun
    * re-shuffles only uncommitted units). After the first unit fails no
    * further unit is claimed; the units in flight finish (commit or
    * fail), every lock is released, and the first failure is rethrown
    * with the others attached as suppressed.
    *
    * Concurrent drivers: single-writer is the manifest impl's contract
    * (the Iceberg CatalogTableIO path commits atomic snapshots and is
    * the answer for genuinely concurrent drivers) — but a live kill/rerun
    * drill showed what happens when a second driver DOES share the root
    * (zombie JVM surviving a botched kill, retry scheduler, operator
    * error): a committed-set re-check alone is check-then-act and both
    * drivers walked the same unit list, double-committing 10/64 units
    * and tearing an Overwrite ("Unable to clear output directory …
    * _temporary still exists" when one driver cleared the dir the other
    * was writing). Units are therefore claimed via an atomic lock file
    * (`fs.create(overwrite=false)` — atomic on local FS and HDFS;
    * advisory only on S3) holding `pid@host`. A claim found held by a
    * DEAD pid on the same host is broken (exact resume after SIGKILL
    * needs no lease timers); a claim held by a live or unverifiable
    * owner is skipped and reported — two live drivers partition the
    * units between them instead of racing.
    *
    * @return units left uncommitted because another live driver holds
    *         them, sorted (empty on any single-driver run, including
    *         reruns after a crash)
    */
  def runCheckpointed(df: DataFrame, unitCol: String, table: String,
                      partitionCols: Seq[String] = Nil)
                     (process: DataFrame => DataFrame): Seq[String] = {
    val sc = df.sparkSession.sparkContext
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(sc.hadoopConfiguration)
    val done = committedUnits(table)
    val pending = df.select(unitCol).distinct().collect().map(_.get(0).toString).sorted
      .filterNot(done.contains)
    if (pending.isEmpty) return Nil
    val skipped = new ConcurrentLinkedQueue[String]()

    // the pending rows, each tagged with its unit's index in `pending`
    val key = "__graft_unit_index"
    val unitName = col(unitCol).cast("string")
    val keyed = df.filter(unitName.isin(pending.toIndexedSeq: _*))
      .withColumn(key, element_at(typedLit(pending.zipWithIndex.toMap), unitName))
    val schema = StructType(df.schema.fields :+ StructField(key, IntegerType, nullable = false))
    val keyIdx = df.schema.length
    val partitions = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val per = math.max(1, (partitions + pending.length - 1) / pending.length)
    val reducers = pending.length * per
    // unit i owns reduce partitions [i·per, (i+1)·per); within them a row
    // goes by the Murmur3 hash of its bytes, so a retried map task sends
    // every row where the first attempt did
    val shuffled = new ShuffledRDD[Int, InternalRow, InternalRow](
      keyed.queryExecution.toRdd.mapPartitions(_.map { r =>
        (r.getInt(keyIdx) * per + (if (per > 1) Math.floorMod(r.hashCode, per) else 0), r.copy())
      }),
      new Partitioner {
        def numPartitions: Int = reducers
        def getPartition(p: Any): Int = p.asInstanceOf[Int]
      }
    ).setSerializer(new UnsafeRowSerializer(schema.length))
    def unitFrame(i: Int): DataFrame = GraftSqlBridge.internalCreateDataFrame(df.sparkSession,
      PartitionPruningRDD.create(shuffled, _ / per == i).map(_._2), schema).drop(key)

    def runUnit(i: Int): Unit = {
      val u = pending(i)
      // the startup snapshot `done` goes stale if another driver commits;
      // re-read the manifest right before claiming (one tiny read/unit)
      if (!committedUnits(table).contains(u)) {
        if (!tryClaimUnit(fs, table, u)) skipped.add(u)
        // post-claim re-check: another driver may have committed u and
        // released its lock between our manifest read and our claim (the
        // commit manifest line is appended BEFORE the lock is deleted,
        // so claim-then-recheck cannot miss it) — without this, that
        // window reprocessed the unit and duplicated its manifest line
        else if (committedUnits(table).contains(u)) fs.delete(unitLockPath(table, u), false)
        else try {
          val part = process(unitFrame(i))
          // row count observed on the write job itself — no output re-read,
          // and a fully-filtered unit reports rows=0 naturally (the old
          // read-back threw on the _SUCCESS-only directory such units leave)
          val obs = org.apache.spark.sql.Observation()
          val w = part.observe(obs, count(lit(1)).as("rows")).write.mode(SaveMode.Overwrite)
          (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
            .parquet(s"${path(table)}/unit=$u")
          appendManifest(table, s"""{"event":"unit_commit","table":"$table","unit":"$u","rows":${obs.get("rows")}}""")
        } finally fs.delete(unitLockPath(table, u), false)
      }
    }

    // each thread takes the next pending unit in sorted order until none
    // is left or a unit has failed (or the caller has left, see finally)
    val next = new AtomicInteger(0)
    val stop = new AtomicBoolean(false)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val workers = (1 to math.min(pending.length, sc.defaultParallelism)).map { n =>
      val t = new Thread(() => {
        var j = next.getAndIncrement()
        while (j < pending.length && !stop.get) {
          try runUnit(j)
          catch { case e: Throwable => failures.add(e); stop.set(true) }
          j = next.getAndIncrement()
        }
      }, s"graft-unit-$n")
      t.setDaemon(true)
      t.start()
      t
    }
    try workers.foreach(_.join())
    finally {
      stop.set(true)
      GraftSqlBridge.releaseShuffle(sc, shuffled.dependencies.head.asInstanceOf[ShuffleDependency[_, _, _]].shuffleId)
    }
    if (!failures.isEmpty) {
      val first = failures.poll()
      failures.forEach(e => first.addSuppressed(e))
      throw first
    }

    val leftover = skipped.toArray(Array.empty[String]).toList.sorted.filterNot(committedUnits(table).contains)
    if (leftover.nonEmpty)
      System.err.println(s"[resume] ${leftover.size} unit(s) of '$table' held by another live driver " +
        s"and still uncommitted: ${leftover.take(10).mkString(",")}${if (leftover.size > 10) ",…" else ""} — " +
        "rerun after it finishes (or clear stale locks under " + s"${path(table)}/_unit_locks)")
    leftover
  }

  // underscore-prefixed so Spark/Hadoop input listing ignores the dir
  private def unitLockPath(table: String, u: String) =
    new org.apache.hadoop.fs.Path(s"${path(table)}/_unit_locks/$u.lock")

  /** Atomically claim a unit. Breaks the lock only when its owner is a
    * provably dead pid on this host (the SIGKILL-resume case).
    */
  private def tryClaimUnit(fs: org.apache.hadoop.fs.FileSystem, table: String, u: String): Boolean = {
    val p = unitLockPath(table, u)
    // local FS: fs.create(overwrite=false) is check-then-create (TOCTOU —
    // two drivers both claimed unit 0 in the regression test); O_EXCL via
    // nio CREATE_NEW is the atomic primitive. HDFS: create(false) IS
    // atomic server-side. S3 & friends: advisory only (documented above).
    def create(): Boolean =
      if (fs.getScheme == "file")
        try {
          val local = java.nio.file.Paths.get(p.toUri.getPath)
          java.nio.file.Files.createDirectories(local.getParent)
          java.nio.file.Files.write(local, lockOwner.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            StandardOpenOption.CREATE_NEW)
          true
        } catch { case _: java.io.IOException => false }
      else
        try { val out = fs.create(p, false); out.writeBytes(lockOwner); out.close(); true }
        catch { case _: java.io.IOException => false }
    create() || {
      val owner = try {
        val in = fs.open(p)
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      } catch { case _: java.io.IOException => return false } // vanished/racing — let the other driver have it
      owner.split("@", 2) match {
        case Array(pid, host) if host == lockHost && pid.matches("\\d+") &&
            !ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false) =>
          fs.delete(p, false); create()
        case _ =>
          // live, foreign-host, or unparseable owner. Pid-liveness can't
          // be checked across hosts, so a driver that crashed on ANOTHER
          // node would otherwise block resume forever; the opt-in lease
          // (-Dgraft.resume.lockLeaseMs=N) breaks locks older than N ms —
          // set it above any plausible single-unit processing time
          val lease = sys.props.get("graft.resume.lockLeaseMs").map(_.toLong)
          val expired = lease.exists { ms =>
            try System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime > ms
            catch { case _: java.io.IOException => false } // vanished — retry below
          }
          if (expired) { fs.delete(p, false); create() } else false
      }
    }
  }

  private def lockOwner = s"${ProcessHandle.current().pid()}@$lockHost"
  private lazy val lockHost =
    try java.net.InetAddress.getLocalHost.getHostName catch { case _: Exception => "unknown-host" }
}

/** `utils/split_large_files.py`'s job — rewrite parquet into
  * ~target-size files — done Spark-first: instead of the reference's
  * driver-side row-group halving recursion, size a `maxRecordsPerFile`
  * from the source's measured bytes/row and let the distributed writer
  * split (row-group surgery is the Ray tool's workaround for not
  * having one).
  */
object SplitBySize {
  def rewrite(spark: org.apache.spark.sql.SparkSession, inputPath: String,
              outDir: String, targetSizeMb: Int): Unit = {
    require(targetSizeMb > 0, s"targetSizeMb must be > 0, got $targetSizeMb")
    // Overwrite deletes outDir BEFORE the lazy scan of inputPath runs —
    // an in-place rewrite would destroy the source with nothing written
    val in = java.nio.file.Paths.get(inputPath).toAbsolutePath.normalize
    val out = java.nio.file.Paths.get(outDir).toAbsolutePath.normalize
    require(!out.startsWith(in) && !in.startsWith(out),
      s"outDir $out must not be inside (or equal to) inputPath $in — " +
        "the overwrite would delete the source before it is read")
    val df = spark.read.parquet(inputPath)
    val rows = df.count()
    val bytes = {
      val p = new org.apache.hadoop.fs.Path(inputPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    }
    val bytesPerRow = math.max(1L, if (rows == 0) 1L else bytes / math.max(1L, rows))
    val rowsPerFile = math.max(1L, targetSizeMb.toLong * 1024 * 1024 / bytesPerRow)
    df.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", rowsPerFile)
      .parquet(outDir)
  }
}

/** Catalog-table impl of [[TableIO]] over Spark's DataFrameWriterV2 —
  * the Iceberg-native path (SURVEY.md §7.4 hard part 6). Compiles against
  * the Spark API alone; at deploy time the cluster adds the Iceberg
  * runtime jar + a catalog config and these calls become Iceberg atomic
  * snapshot commits (`PARTITIONED BY (days(warc_ts), lang)` DDL is run
  * once at table creation). No Iceberg classes are referenced directly,
  * so the manifest-parquet impl remains the offline test double.
  */
final class CatalogTableIO(catalog: String) extends TableIO with Serializable {
  private def fqn(table: String) = s"$catalog.$table"

  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(fqn(table))

  def write(df: DataFrame, table: String, partitionCols: Seq[String] = Nil): Unit = {
    def writer = {
      val w = df.writeTo(fqn(table))
      if (partitionCols.nonEmpty)
        w.partitionedBy(col(partitionCols.head), partitionCols.tail.map(col): _*)
      else w
    }
    try writer.createOrReplace()
    catch {
      // catalogs without atomic RTAS (the built-in session catalog,
      // plain HMS+parquet deploys) still get replace semantics via
      // drop+create; Iceberg keeps the single-snapshot commit path
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.startsWith("UNSUPPORTED_FEATURE")) =>
        df.sparkSession.sql(s"DROP TABLE IF EXISTS ${fqn(table)}")
        writer.create()
    }
  }

  /** Append into an existing partitioned table (snapshot commit). */
  def append(df: DataFrame, table: String): Unit =
    try df.writeTo(fqn(table)).append()
    catch {
      // v1 session-catalog tables reject the v2 append — route through
      // the v1 writer (same rows, no snapshot semantics)
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.startsWith("UNSUPPORTED_FEATURE")) ||
            e.getMessage.contains("v1 table") =>
        df.write.mode(SaveMode.Append).saveAsTable(fqn(table))
    }

  /** Overwrite only the rows matching `condition` with `df`'s rows —
    * on Iceberg a single overwrite-by-filter snapshot commit (the
    * incremental-recompute path: replace one day/lang slice, keep the
    * rest). v1 session-catalog tables lack the v2 overwrite, so the
    * fallback rewrites remainder ∪ df through the v1 writer — same
    * rows, not atomic (lineage broken via [[graft.Materialize]] so the
    * table can be replaced under its own read).
    */
  def overwriteWhere(df: DataFrame, table: String,
                     condition: org.apache.spark.sql.Column): Unit =
    try df.writeTo(fqn(table)).overwrite(condition)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.startsWith("UNSUPPORTED_FEATURE")) ||
            e.getMessage.contains("v1 table") =>
        val spark = df.sparkSession
        val existing = spark.table(fqn(table))
        // keep every row the filter does NOT match — including rows where
        // the condition evaluates to NULL (plain `!condition` is NULL for
        // those and would silently drop them; Iceberg's overwrite(cond)
        // deletes only rows where cond is TRUE)
        val merged = Materialize(existing.filter(!coalesce(condition, lit(false)))
          .unionByName(df.select(existing.columns.map(col): _*)))
        merged.write.mode(SaveMode.Overwrite).saveAsTable(fqn(table))
    }

  /** Add columns to an existing table (Iceberg/v2 schema evolution;
    * the session catalog supports the same DDL for parquet tables).
    * Existing rows read the new columns as null.
    */
  def addColumns(spark: SparkSession, table: String, columnsDdl: String): Unit =
    spark.sql(s"ALTER TABLE ${fqn(table)} ADD COLUMNS ($columnsDdl)")
}
