package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** The shared local-harness scaffold behind every streaming query in
  * this package: the only code that names a streaming query, builds a
  * file stream, or starts and drains a query, so a harness passes only
  * its source, its slicing and its merge. Each piece exists once because
  * copies drift: the merge scaffold was once copy-pasted across eight
  * sites. Every exactly-once foreachBatch in the repo is
  * [[versionedMergeSink]].
  *
  *  - [[withStreamConf]]: the session confs a harness runs under.
  *  - [[fixtureStream]], [[stageSlices]], [[stageTimeOrderedSlices]]: the
  *    staged file sources, each returned as (stream, stage dir).
  *  - [[runQuery]]: the one query lifecycle; [[runToMemory]] and
  *    [[runVersionedMerge]] are its two sinks.
  *  - [[versionedMergeSink]]: the exactly-once foreachBatch sink, which
  *    RestartStreams' crash harnesses run through their own restarts.
  */
object StreamHarness {

  /** Run `body` (a streaming query execution) with the session's
    * streaming confs set for it through `graft.Session.withConf`, which
    * puts back afterwards — whether the body returns or throws — the
    * value each key had, unsetting a key the session had not set.
    *
    * spark.sql.shuffle.partitions is set to the STATE partition count,
    * min(8, defaultParallelism): one state store per scheduler slot,
    * capped at 8.
    *
    * Why the slot count: every stateful streaming operator keeps one
    * state store PER shuffle partition, and each store pays a fixed cost
    * in every micro-batch (load, commit, checksummed delta or snapshot
    * write) that dwarfs its row work at fixture scale. With more
    * partitions than slots a stateful stage runs in several waves of
    * tasks that are mostly that fixed cost; one partition per slot runs
    * it in one wave with the fewest stores.
    *
    * Why the cap of 8: measured on sf0.1 at local[32], 32 → 8 partitions
    * took the stream-stream join 6.3s→3.2s and timeout sessionization
    * 5.6s→3.6s — above 8 the extra stores cost more than the parallelism
    * returns.
    *
    * Why an earlier "8 → 4 is a wash" measurement does not carry over:
    * that A/B ran at local[32], where 8 tasks already fit in one wave, so
    * 4 only dropped stores that ran in parallel anyway. Below 8 slots, 8
    * stores take two waves; at local[4] going from 8 to 4 cut the
    * stream_replay benchmark's mean Spark job time from 0.197s to 0.143s
    * (medians of ten alternating runs each, every output checked).
    *
    * State partitioning is fixed at the query's FIRST start (a restart
    * keeps the count its checkpoint recorded), so the conf must be set
    * before .start(); a production stream sizes this by throughput
    * exactly as a batch job sizes its shuffle.
    *
    * `rocksDb = true` also sets spark.sql.streaming.stateStore.providerClass
    * to the RocksDB provider, which transformWithState requires (the local
    * default is HDFSBackedStateStoreProvider). Only the TWS harnesses ask
    * for it; every other harness keeps the default store.
    *
    * Both confs are SESSION-GLOBAL, so the save/set/restore is serialized
    * under a JVM lock: Verify's 4-way-parallel pool runs several
    * streaming harnesses on one session, and unsynchronized save/restore
    * pairs can interleave so that a body runs at the batch partition
    * count (or on the wrong store) and — worse — the LAST restore
    * re-installs the temporary value permanently, skewing every later
    * query in the sweep. Serializing the handful of streaming harnesses
    * costs little. The lock does not cover batch queries: one planned on
    * another thread while a harness runs plans at the streaming partition
    * count (same answer, different plan shape).
    */
  def withStreamConf[A](spark: SparkSession, rocksDb: Boolean = false)(body: => A): A =
    confLock.synchronized {
      val confs = Seq("spark.sql.shuffle.partitions" ->
          math.min(8, spark.sparkContext.defaultParallelism).toString) ++
        (if (rocksDb) Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        else Nil)
      graft.Session.withConf(spark, confs: _*)(body)
    }

  private val confLock = new Object

  /** Start `writer`, process every available input, run `afterDrain`
    * against the still-running query, and stop the query in a `finally`:
    * if the drain or the hook throws (a failed batch, a cancelled job
    * group), no query is left active.
    */
  private[streaming] def runQuery(writer: DataStreamWriter[_])
      (afterDrain: StreamingQuery => Unit = _ => ()): Unit = {
    val q = writer.start()
    try {
      q.processAllAvailable()
      afterDrain(q)
    } finally q.stop()
  }

  private val memorySinks = new AtomicLong()

  /** Run `ds` into a memory sink through [[runQuery]] and return the
    * sink's rows. The sink's query name (hence its temp view) is unique
    * in the JVM, so concurrent harnesses never collide, and the view is
    * dropped before returning, whether the run returns or throws: the
    * returned frame already holds the sink's plan, so it still collects
    * afterwards, and nothing in the catalog keeps the rows alive once
    * the frame is gone. The memory sink holds its rows on the driver, so
    * the frame outlives the query and any conf restore around it.
    */
  def runToMemory(ds: Dataset[_], outputMode: OutputMode)
      (afterDrain: StreamingQuery => Unit = _ => ()): DataFrame = {
    val name = s"graft_memory_sink_${memorySinks.incrementAndGet()}"
    try {
      runQuery(ds.writeStream.outputMode(outputMode).format("memory").queryName(name))(afterDrain)
      ds.sparkSession.table(name)
    } finally {
      val _ = ds.sparkSession.catalog.dropTempView(name)
    }
  }

  /** Stage one single-file parquet slice per id in `sliceIds`, slice i =
    * rows where `sliceOf === i`, under a fresh [[TempDirs]] stage dir.
    * Returns (the slices as a stream, one slice per micro-batch in
    * `sliceIds` order, the stage dir). ONE file per slice is
    * load-bearing: maxFilesPerTrigger=1 feeds part FILES, so a
    * multi-part slice silently becomes many tiny micro-batches (q227
    * once ran 24 batches, 23s of engine rounds, for 3 intended slices).
    * Delivery order: FileStreamSource schedules unseen files by
    * MODIFICATION TIME only — a same-millisecond tie is broken by
    * incidental file-index listing order, not by path. Sequential writes
    * usually produce increasing mtimes anyway, but "usually" is not a
    * contract the time-ordered callers (q252/q255's tercile folds) can
    * rest on — so each slice's files are explicitly stamped
    * strictly-increasing mtimes in `sliceIds` order, 2s apart.
    * Files.move (the restart harnesses' publish step) preserves the
    * stamps.
    */
  def stageSlices(df: DataFrame, sliceOf: Column, sliceIds: Seq[Int]): (DataFrame, Path) = {
    val spark = df.sparkSession
    val stage = TempDirs.create("graft_slices_")
    // ONE job writes every slice: a filter-per-slice loop would re-run
    // the upstream plan once PER slice, so a caller staging an expensive
    // frame would pay N full scans. repartition(n, __slice) lands each
    // slice's rows in exactly ONE task — two slices may share a task
    // (hash collision) but a slice never splits — so each partitionBy
    // directory holds exactly one data file, the invariant
    // maxFilesPerTrigger=1 rests on (still asserted below). Within-file
    // row order is shuffle order: every consumer is within-batch
    // order-insensitive (the versioned merges are aggregations; the TWS
    // folds sort per key — foldSessions, ProfileProcessor), and the
    // time-ORDERED delivery contract is ACROSS slices, which the mtime
    // stamps below carry.
    df.withColumn("__slice", sliceOf)
      .repartition(sliceIds.size, col("__slice"))
      .write.partitionBy("__slice").mode("overwrite").parquet(s"$stage/raw")
    val base = System.currentTimeMillis()
    sliceIds.zipWithIndex.foreach { case (i, idx) =>
      val src = stage.resolve(s"raw/__slice=$i")
      // an EMPTY slice writes no directory — fail loudly rather than
      // silently dropping a planned micro-batch
      require(Files.isDirectory(src),
        s"slice_$i staged no rows — stageSlices requires every id in " +
          "sliceIds to be non-empty (a missing slice directory would " +
          "silently drop its planned micro-batch)")
      val dir = stage.resolve(s"slice_$i")
      Files.move(src, dir)
      val files = names(dir)
      files.foreach(n =>
        Files.setLastModifiedTime(dir.resolve(n), FileTime.fromMillis(base + idx * 2000L)))
      val dataFiles = files.filter(n => !n.startsWith("_") && !n.startsWith("."))
      // the one-data-file invariant, ASSERTED: the shared mtime stamp
      // above restores cross-slice ordering but would reintroduce the
      // intra-slice same-millisecond tie between a slice's OWN files if
      // the one-task-per-slice write ever silently regressed (e.g. a
      // maxRecordsPerFile conf splitting it) — fail loudly at staging
      // time instead of nondeterministically downstream
      require(dataFiles.size == 1,
        s"slice_$i staged ${dataFiles.size} data files (${dataFiles.mkString(", ")}) — " +
          "stageSlices requires exactly one per slice (maxFilesPerTrigger=1 " +
          "turns extra files into unintended extra micro-batches with tied mtimes)")
    }
    // only _SUCCESS remains under raw/ after the moves; remove it so the
    // stage dir holds exactly the slice_<i> dirs
    TempDirs.deleteRecursively(stage.resolve("raw"))
    val schema = spark.read.parquet(s"$stage/slice_${sliceIds.head}").schema
    (sliceStream(spark, stage, schema), stage)
  }

  /** TIME-ORDERED staging: slice i carries the i-th n-tile of `df` under
    * `order` — batches partition the order in sequence, the delivery
    * contract of the per-user session folds (q252/q255): the fold needs
    * non-decreasing per-user timestamps across batch boundaries, so
    * arbitrary (e.g. pmod) slices would be wrong REGARDLESS of restart.
    * Callers whose merge is order-independent should slice by pmod
    * instead (q203/q253) — no ordering work at all.
    *
    * The tercile assignment is `DistributedRank.ntile` — identical split
    * semantics to `ntile(n).over(Window.orderBy(order))` (spec-pinned)
    * at ONE range exchange instead of a data-sized single-partition sort.
    */
  def stageTimeOrderedSlices(df: DataFrame, order: Seq[Column], n: Int): (DataFrame, Path) =
    // no eager checkpoint: stageSlices writes every slice in ONE pass, so
    // the assignment plan (with its offsets broadcast join) executes
    // exactly once either way
    stageSlices(timeOrderedSlicesForAudit(df, order, n), col("__slice"), 1 to n)

  /** The staging frame exactly as [[stageTimeOrderedSlices]] writes it,
    * so StreamingSpec can pin "no `Exchange SinglePartition` in the
    * staging plan" and tercile parity with the window form without
    * writing files.
    */
  private[streaming] def timeOrderedSlicesForAudit(df: DataFrame,
      order: Seq[Column], n: Int): DataFrame =
    graft.operators.DistributedRank.ntile(df, order, n, "__slice")

  /** Consume a foreachBatch batch WITHOUT side effects: pull every
    * partition's iterator dry. Load-bearing for the sink's skip of a
    * redelivered batch: Spark 4.1's BatchCommitTracker requires every
    * micro-batch's stateful plan to commit all its state partitions, and
    * the plan only executes as rows are CONSUMED — a function that
    * ignores the iterator pulls nothing and fails the incarnation with
    * StateStoreCommitValidationFailed (q252's transformWithState replay).
    * Re-execution on redelivery is what transformWithState recovery is
    * built for: the store loads the state as of batch start and
    * recommits the same deterministic version.
    */
  private def drainBatch(batch: Dataset[Row]): Unit =
    batch.foreachPartition((it: Iterator[Row]) => it.foreach(_ => ()))

  /** The fixture `<dir>/<table>.parquet` as a file stream, with the
    * fixture's own schema (from [[graft.Tables.raw]], inferred once per
    * fixture), and the stage dir it streams.
    * FileStreamSource reads a directory, so the stage is a [[TempDirs]]
    * dir holding one symlink per data file of the fixture: the fixture
    * itself when it is one file, else each entry of its directory whose
    * name does not start with `.` or `_` (a checksum, a `_SUCCESS`
    * marker), as Spark's file index has it. Linking the directory itself
    * would stream nothing: FileStreamSource does not descend into a
    * symlinked directory.
    * TempDirs, not `File.deleteOnExit`, which skips non-empty dirs and
    * would leak every stage. The heartbeat harnesses feed further files
    * into the stage dir while the stream runs. A cluster deployment
    * streams a real landing directory (or Kafka) instead.
    */
  def fixtureStream(spark: SparkSession, dir: String, table: String): (DataFrame, Path) = {
    val fixture = Paths.get(s"$dir/$table.parquet").toAbsolutePath
    val schema = graft.Tables.raw(spark, dir, table).schema
    val stage = TempDirs.create(s"graft_${table}_stream_")
    if (Files.isDirectory(fixture))
      names(fixture).filterNot(n => n.startsWith(".") || n.startsWith("_"))
        .foreach(n => Files.createSymbolicLink(stage.resolve(n), fixture.resolve(n)))
    else Files.createSymbolicLink(stage.resolve(fixture.getFileName), fixture)
    (spark.readStream.schema(schema).parquet(stage.toString), stage)
  }

  /** The stage dir's files and directories as a stream, one file per
    * micro-batch: the staged slices, then whatever a harness feeds in
    * while the stream runs.
    */
  private[streaming] def sliceStream(spark: SparkSession, stage: Path,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$stage/*")

  /** Where an injected crash fires in a crash-restart incarnation: on
    * batch `batchId`, just before the sink's rename-commit (its output is
    * staged, not committed) or just after it (committed, but the
    * streaming checkpoint has not recorded the batch, so it is
    * redelivered).
    */
  private[streaming] final case class CrashPoint(batchId: Long, afterCommit: Boolean)

  private val Committed = """v(\d+)_b(\d+)""".r

  private def names(dir: Path): Seq[String] = {
    val it = Files.list(dir)
    try it.iterator().asScala.map(_.getFileName.toString).toVector
    finally it.close()
  }

  /** The sink's commit log, read back from the names of its committed
    * versions: (version, batchId), oldest first.
    */
  private[streaming] def ledger(dir: Path): Seq[(Long, Long)] =
    names(dir).collect { case Committed(v, b) => (v.toLong, b.toLong) }.sortBy(_._1)

  /** The committed version `entry` of the sink in `dir`. */
  private[streaming] def versionPath(dir: Path, entry: (Long, Long)): String =
    s"$dir/v${entry._1}_b${entry._2}"

  /** Staged writes that never committed (a crash before the rename). */
  private[streaming] def uncommitted(dir: Path): Seq[Path] =
    names(dir).filter(_.startsWith("tmp_b")).map(dir.resolve)

  /** The exactly-once versioned sink over `dir`, as a foreachBatch
    * function. Per fresh batch id it writes
    * `merge(latest committed version's path, batch)` to `tmp_b<id>` and
    * commits it by atomic rename to the next `v<version>_b<id>`; those
    * names are the sink's commit log. A redelivered batch id (the last
    * one applied) is drained, not merged, so the engine's at-least-once
    * delivery composes to exactly-once state. The ledger is read back
    * from `dir` when the sink is built, so a new query incarnation
    * resumes where the last commit left off. `crash` injects one failure
    * just before or just after the rename-commit; only RestartStreams'
    * crash harnesses (q252, q253) set it.
    */
  private[streaming] def versionedMergeSink(dir: Path, crash: Option[CrashPoint] = None)
      (merge: (Option[String], DataFrame) => DataFrame): (Dataset[Row], Long) => Unit = {
    var (version, lastApplied) = ledger(dir).lastOption.getOrElse((-1L, -1L))
    (batch, id) =>
      if (id == lastApplied) drainBatch(batch)
      else {
        val prev = if (version < 0) None else Some(versionPath(dir, (version, lastApplied)))
        val tmp = dir.resolve(s"tmp_b$id")
        // the write is the batch's action: a stateful upstream plan
        // executes and commits its state inside it
        merge(prev, batch.toDF()).write.mode("overwrite").parquet(tmp.toString)
        if (crash.contains(CrashPoint(id, afterCommit = false)))
          throw new RuntimeException(
            s"injected crash BEFORE commit of batch $id (partial sink write staged)")
        // commit point: atomic rename — a half-written version can never
        // be visible under a committed name
        Files.move(tmp, dir.resolve(s"v${version + 1}_b$id"), StandardCopyOption.ATOMIC_MOVE)
        version += 1
        lastApplied = id
        if (crash.contains(CrashPoint(id, afterCommit = true)))
          throw new RuntimeException(
            s"injected crash AFTER commit of batch $id, before its checkpoint")
      }
  }

  /** The versioned-parquet merge loop: [[versionedMergeSink]] plus one
    * query through [[runQuery]]. Streams `source` (usually a
    * [[stageSlices]] stream), applies `merge(prevState, batch)` per fresh
    * batch id, writes each state version under a fresh temp dir, and
    * returns the FINAL state frame. Requires at least one batch (an
    * empty stream is a harness bug, not a valid run). `merge` must reduce
    * the batch to its bounded delta BEFORE touching the state, so the
    * state write never scales with the stream. At 100 TB the rewrite
    * becomes a partitioned MERGE INTO keyed on the state key, and the
    * batch-id ledger moves into the table's commit log (UpsertStreams'
    * scale story, which holds for every caller because the loop is one
    * function).
    */
  def runVersionedMerge(source: DataFrame)
      (merge: (Option[DataFrame], DataFrame) => DataFrame): DataFrame = {
    val spark = source.sparkSession
    val stateBase = TempDirs.create("graft_merge_state_")
    val sink = versionedMergeSink(stateBase) { (prev, batch) =>
      merge(prev.map(p => spark.read.parquet(p)), batch)
    }
    runQuery(source.writeStream.foreachBatch(sink))()
    val last = ledger(stateBase).lastOption
    require(last.isDefined, "stream produced no batches")
    spark.read.parquet(versionPath(stateBase, last.get))
  }
}
