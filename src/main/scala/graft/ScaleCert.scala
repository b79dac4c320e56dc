package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-registry scale certification: drive EVERY registry query at 1×
  * and K× data and emit a per-query `{t1, tk, ratio}` artifact. The
  * registered queries are timed THEMSELVES, verbatim, so a super-linear
  * constant in any query shows up as its own row — the local proxy for
  * "would this exact query survive a 100 TB cluster", per query, with no
  * sampling.
  *
  * Run: `runMain graft.ScaleCert [sfDir] [k] [outJson] [onlySubstrings]`
  * (defaults /root/testdata/sf0.1, 10, SCALE.json).
  *
  * ## The K× corpus is materialized, not wrapped
  *
  * Registry queries take `(spark, sfDir)` and read `<dir>/<table>.parquet`
  * through Tables — so the K× run needs a real directory with the same
  * layout. The builder below replicates each fixture table K× into a
  * reusable /tmp dir (a `_GRAFT_REPLICA_OK` marker makes it build-once),
  * then every query runs VERBATIM against it: no per-query re-coding, no
  * shape drift between what's certified and what ships.
  *
  * ## Replication preserves per-replica structure
  *
  * - Keys shift ADDITIVELY with power-of-10 strides ≥ the key range
  *   (custkey +1e5·r, orderkey +1e6·r, …). Additive-stride replication
  *   keeps each replica an exact copy of the original's join structure
  *   (per-key fan-outs unchanged — a multiplicative `key*k+r` rewires
  *   `key % m` subset selections when m divides k, silently changing the
  *   workload), and a power-of-10 stride preserves the registry's
  *   `% 2/4/5/10/20` residue classes replica-for-replica.
  * - Joined key families share strides across tables (o_custkey moves
  *   with c_custkey, l_orderkey with o_orderkey, …) so every equi join
  *   still lands, now at K× rows with the SAME per-key fan-out.
  * - `documents.text` gets every token suffixed `_r` — replica vocab
  *   universes are DISJOINT, so each replica is an isomorphic corpus
  *   under a vocabulary renaming. 10 verbatim copies would instead plant
  *   a 45-pair near-dup clique per original doc, and pair-emitting dedup
  *   queries would measure that artifact (quadratic in K by
  *   construction), not the engine. Disjoint vocab is also the honest
  *   growth shape: real corpora add rare tokens as they grow, while a
  *   closed vocabulary inflates every token's document frequency K× and
  *   degrades prefix-filtered joins (q87) toward quadratic. n_chars is
  *   recomputed to match.
  * - `embeddings.embedding` is circularly ROTATED by r positions — an
  *   orthogonal transform, so every intra-replica cosine/L2 is preserved
  *   EXACTLY while cross-replica similarity drops to chance; verbatim
  *   vector copies would multiply every ANN/LSH bucket by K instead.
  *
  * ## Reading the artifact
  *
  * `ratio ≈ tk/t1`. Fixed per-query overhead (job launch, streaming
  * micro-batch staging, driver-state ML rounds) makes small-t1 ratios
  * read BELOW data growth; genuinely linear heavy queries read ~K× minus
  * amortized overhead. The certification bar (VERDICT r12): every ratio
  * ≤ ~3× at K=10, or a written regime note (PLANS.md's q211 template).
  * Each attempt records /proc/loadavg so a contended reading is
  * adjudicable from the artifact alone. A query
  * exceeding the per-side timeout is cancelled via its job group and
  * recorded as -2 — a timeout at K× IS a scale finding, not noise.
  */
object ScaleCert {

  // key-family strides: power of 10, ≥ the sf0.1 key range (they hold to
  // sf1; recheck if fixtures ever grow past them — build() requires it)
  private val CustStride = 100000L    // c_custkey range 15k at sf0.1
  private val OrderStride = 1000000L  // o_orderkey range 150k
  private val PartStride = 100000L    // p_partkey range 20k
  private val SuppStride = 10000L     // s_suppkey range 1k
  private val EventStride = 1000000L  // event_id range 100k
  private val UserStride = 10000L     // user_id range 1.5k
  private val DocStride = 10000L      // doc_id range 5k
  private val VecStride = 10000L      // vec_id range 2k

  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Adjudicated per-query ratio CEILINGS (r13 verdict item 8): every
    * query whose 10× ratio was analyzed past the default bar carries its
    * adjudicated reading × ~1.5 headroom here, so a silent regression
    * past the analyzed regime fails the sweep loudly instead of hiding
    * inside an already-big number. The analyses live in PLANS.md ("the
    * >10× tail"): each is quadratic WORK by construction under the
    * replica corpus (threshold-at-chance edge lists, brute-force
    * verification baselines, fixed-vocabulary hot blocks, or — q85 after
    * the r14 value-dedup fix — a genuinely quadratic ANSWER), with a
    * bounded production path named. r14 re-based: q85 72→11.3 (value-pair
    * comparison dedup), q241 46→3.1 (derived blocking passes), q244
    * 21→2.1 (algebraic pattern counts) — their ceilings tightened to
    * match. Everything else must stay under DefaultRatioCeiling (the
    * adjudication boundary itself: a query crossing it needs a PLANS.md
    * analysis and an entry here, not silence).
    *
    * r15 re-base: the 2026-08-16 fixture regeneration shifted several
    * data-dependent workloads with no code change (the r14 verdict's
    * item 3), so the noisiest ceilings were re-measured on the
    * regenerated fixtures — SOLO first, then cross-checked by the full
    * idle-box sweep. The sweep settled an open adjudication question:
    * the 2× t1 swings on sub-second queries (q122 1.25-2.46s, q128
    * 0.42-0.83s) reproduce on an IDLE box — they are serial-sweep
    * cache/JIT position effects, not external contention — while the tk
    * numerators stay stable, so the honest ratio for those rows is a
    * BAND, and the ceiling sits at 1.5× the band top (q122 56, q128 57,
    * q87 23, q26 16), not 1.5× one lucky solo quotient. q191/q243
    * gained entries when the regen+code changes dropped their t1 and
    * surfaced ratios the default ceiling had been masking.
    *
    * Calibration note (r14 full sweep): ceilings must absorb
    * SERIAL-SWEEP noise, not just the solo reading — a small-t1 query's
    * ratio swings 1.5-2.5× between a contended sweep slot and a solo
    * idle-box run (measured: q87 13.1 in-sweep/loadavg 7 vs 5.5 solo;
    * q169 11.1 vs 9.3; q122 38.6 vs 23.9 — the tk numbers were stable,
    * the t1 denominators moved). Each ceiling is therefore ~1.5× the
    * WORST honest reading observed (sweep or solo), and a violation
    * means "re-measure solo, then adjudicate", not "noise".
    */
  private val DefaultRatioCeiling = 10.0
  private val RatioCeilings: Map[String, Double] = Map(
    "q198_retrieval_metrics" -> 130, // corpus-proportional probe panel (q257 is the fixed-panel form)
    "q52_embedding_neardup" -> 95, // threshold-cosine all-pairs on the sample
    "q161_containment_pairs" -> 75, // closed-vocabulary containment blocks
    "q46_ngram_jaccard" -> 72, // brute-force verification baseline
    "q122_pagerank_centrality" -> 56, // cosine edge list, ~104x edges (q261 is the banded form); tk stable ~47 but t1 swings 1.25 (idle sweep) - 2.46 (solo) -> honest ratio band 19.8-37.1 post-regen; ceiling 1.5x the band top
    "q117_triangle_count" -> 52, // cosine edge list grows ~104x (q266 is the banded form)
    "q121_semantic_dedup" -> 48, // all-pairs semantic compare on the sample
    "q128_contrastive_pairs" -> 57, // in-class hardest-positive search (q265 is the banded form); tk stable ~16 but t1 swings 0.42-0.83 -> honest ratio band 19.5-37.8 post-regen; ceiling 1.5x the band top
    "q175_bfs_distance" -> 34, // cosine edge list
    "q49_rolling_fingerprint" -> 24, // char-bound linear, chars grow 13.6x
    "q176_hits_scores" -> 24, // cosine edge list
    "q85_fuzzy_match" -> 24, // output itself quadratic under replicas (r14: 11.3-15.6)
    "q87_setsim_join" -> 23, // linear under disjoint vocab but small-t1 noisy; post-regen honest band 10.5 solo - 15.3 idle sweep (t1 swings ~1.3-2.0s); ceiling 1.5x the band top
    "q133_label_propagation" -> 19, // cosine edge list (q262 is the banded form)
    "q186_pii_scan" -> 18, // regex scan, chars grow 13.6x
    "q191_image_resize" -> 17, // pixel-bound linear (decode + box filter + re-encode per doc); post-regen t1 fell 3.9->1.4-1.8 so the honest ratio surfaced at 11.1 (was masked under the default ceiling by a contended t1)
    "q243_triangle_count" -> 15, // degree-ordered wedges are O(m^1.5) in the 10x-denser co-purchase graph; 5.5 solo / 10.3 sweep post-regen
    "q151_kcore" -> 18, // cosine edge list (q267 is the banded form)
    "q169_dbscan" -> 17, // cosine eps-neighborhood is all-pairs on the sample; 11.3 solo post-regen r15 (9.3 pre-regen)
    "q26_correlated_agg" -> 16, // linear; t1 ~0.5s so fixed overhead distorts the quotient; post-regen honest band 7.8 solo - 11.0 idle sweep; ceiling 1.5x the band top
    "q241_record_linkage" -> 7, // r14 derived blocking passes (3.1-4.3 measured)
    "q244_em_linkage" -> 5) // r14 algebraic pattern counts (2.1 measured)

  /** Build (once per fixture CONTENT) the K×-replicated fixture dir;
    * returns its path. The reuse marker stores a fingerprint of the
    * SOURCE fixture files (name:size:mtime per table) — a content-blind
    * marker silently certified regenerated 1× fixtures against stale
    * replicas of the OLD corpus, making every ratio cross-corpus
    * garbage (review finding, r15; fixture regens between rounds are a
    * known recurring event).
    */
  def replicaDir(spark: SparkSession, sfDir: String, k: Int): String = {
    val name = new java.io.File(sfDir).getName
    val dest = s"/tmp/graft-scale-rep/$name-x$k"
    val marker = Paths.get(dest, "_GRAFT_REPLICA_OK")
    val fingerprint = {
      val files = new java.io.File(sfDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      files.map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("\n")
    }
    if (Files.exists(marker) &&
        new String(Files.readAllBytes(marker), "UTF-8") == fingerprint)
      return dest
    if (Files.exists(marker)) {
      println(s"[scale] fixture fingerprint changed — rebuilding $dest")
      Files.delete(marker) // a crash mid-rebuild must not leave a stale OK
    }
    def load(t: String): DataFrame = Tables.raw(spark, sfDir, t)
    // each table lands as ONE FILE named <t>.parquet, exactly the fixture
    // layout: the streaming harnesses symlink `<dir>/events.parquet` into
    // their staging dir and a parquet DIRECTORY there streams zero rows.
    // Single-file writes stay read-parallel — parquet splits on row
    // groups, so the K× scan still fans out across cores.
    def save(df: DataFrame, t: String): Unit = {
      val tmp = s"$dest/.build_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
      require(part.length == 1, s"expected 1 part file for $t, got ${part.length}")
      Files.move(Paths.get(part.head), Paths.get(s"$dest/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // best-effort cleanup of the build dir
      val it = Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      try it.forEach(f => { val _ = f.toFile.delete() }) finally it.close()
    }
    val rep = explode(sequence(lit(0L), lit(k - 1L)))
    def replicate(df: DataFrame, strides: Seq[(String, Long)]): DataFrame = {
      strides.foreach { case (c, s) =>
        val hi = df.agg(max(col(c))).head.getLong(0)
        require(hi < s, s"stride $s too small for $c (max $hi)")
      }
      val r = df.withColumn("__rep", rep)
      strides.foldLeft(r) { case (acc, (c, s)) =>
        acc.withColumn(c, col(c) + lit(s) * col("__rep"))
      }.drop("__rep")
    }
    save(load("region"), "region")
    save(load("nation"), "nation")
    save(replicate(load("customer"), Seq("c_custkey" -> CustStride)), "customer")
    save(replicate(load("supplier"), Seq("s_suppkey" -> SuppStride)), "supplier")
    save(replicate(load("part"), Seq("p_partkey" -> PartStride)), "part")
    save(replicate(load("orders"),
      Seq("o_orderkey" -> OrderStride, "o_custkey" -> CustStride)), "orders")
    save(replicate(load("lineitem"),
      Seq("l_orderkey" -> OrderStride, "l_partkey" -> PartStride,
        "l_suppkey" -> SuppStride)), "lineitem")
    save(replicate(load("events"),
      Seq("event_id" -> EventStride, "user_id" -> UserStride)), "events")
    // documents: disjoint vocab per replica (token suffix), honest n_chars
    val docs = load("documents").withColumn("__rep", rep)
      .withColumn("doc_id", col("doc_id") + lit(DocStride) * col("__rep"))
      .withColumn("text", array_join(
        transform(split(col("text"), " "),
          t => concat(t, lit("_"), col("__rep"))), " "))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__rep")
    save(docs, "documents")
    // embeddings: circular rotation by r — orthogonal, norm- and
    // intra-replica-geometry-preserving; r=0 degenerates to identity
    // (slice(x,1,0) is empty)
    val em = load("embeddings").withColumn("__rep", rep)
      .withColumn("vec_id", col("vec_id") + lit(VecStride) * col("__rep"))
      .withColumn("embedding", concat(
        slice(col("embedding"), col("__rep") + 1,
          size(col("embedding")) - col("__rep")),
        slice(col("embedding"), lit(1), col("__rep"))))
      .drop("__rep")
    save(em, "embeddings")
    Files.write(marker, fingerprint.getBytes("UTF-8"))
    dest
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // decimal POINTS in every artifact (review finding, r15)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val outPath = args.lift(2).getOrElse("SCALE.json")
    val only = args.lift(3).map(_.split(",").toSeq).getOrElse(Nil)
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_SCALE_TIMEOUT", "900").toLong
    val spark = Session.getOrCreate()
    val sc = spark.sparkContext
    println(s"[scale] building/reusing ${k}x replicas of $sfDir")
    val repDir = replicaDir(spark, sfDir, k)

    // resume support: a crashed/killed run keeps its completed rows in
    // the .jsonl journal; finished queries are skipped on restart
    val journal = Paths.get(outPath + ".jsonl")
    val done: Set[String] =
      if (Files.exists(journal))
        scala.jdk.CollectionConverters.ListHasAsScala(
          Files.readAllLines(journal)).asScala
          .flatMap(l => "\"name\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1)))
          .toSet
      else Set.empty

    import scala.concurrent.ExecutionContext.Implicits.global
    // run one side with a cancellation guard: -1 error, -2 timeout
    def timedSide(name: String, dir: String): (Double, Double) = {
      val la = loadavg()
      val group = s"scale-$name"
      val t0 = System.nanoTime()
      val fut = Future {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        try {
          SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } finally sc.clearJobGroup()
      }
      val t =
        try Await.result(fut, timeoutSec.seconds)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            sc.cancelJobGroup(group)
            spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
            try Await.result(fut.map(_ => ()).recover { case _ => () }, 60.seconds)
            catch { case _: Throwable => () }
            -2.0
          case _: Throwable => -1.0
        }
      spark.sharedState.cacheManager.clearCache()
      // unload loaded state-store providers: local-mode providers stay
      // cached per (query, operator, partition) after a streaming query
      // stops, so a 250-query serial sweep accumulates hundreds of live
      // RocksDB instances and exhausts the fd limit (observed: q138's
      // 10x stream-stream join tipped the 20k ulimit and every
      // subsequent query failed on file opens). Internal API, harness
      // scope only — a cluster never runs 250 streaming queries in one
      // executor JVM.
      // (reflective: StateStore is private[sql]; its bytecode is public)
      try {
        val cls = Class.forName(
          "org.apache.spark.sql.execution.streaming.state.StateStore$")
        cls.getMethod("unloadAll").invoke(cls.getField("MODULE$").get(null))
      } catch { case _: Throwable => () }
      (t, la)
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.exists(n.contains))
      .filterNot(done)
    println(s"[scale] ${names.size} queries to run (${done.size} already journaled)")
    try { timedSide("q01_pricing_summary", sfDir); () } catch { case _: Throwable => () } // warmup

    // hard watchdog: a query whose sides exceed 3× the per-side timeout
    // has wedged the harness past what cooperative cancellation can fix
    // (observed: a stopped 10× stream-stream join kept planning
    // micro-batches) — exit the JVM; the crash sentinel stands as the
    // query's result and the journal resume skips it on relaunch.
    val queryStartedAt = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    val watchdog = new Thread(() => {
      while (true) {
        Thread.sleep(60000)
        val elapsed = (System.nanoTime() - queryStartedAt.get()) / 1e9
        if (elapsed > 3 * timeoutSec + 180) {
          println(s"[scale] WATCHDOG: query wedged ${elapsed.toInt}s; exiting (sentinel stands)")
          Runtime.getRuntime.halt(3)
        }
      }
    }, "scale-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()

    names.foreach { name =>
      queryStartedAt.set(System.nanoTime())
      // crash sentinel FIRST: a query that kills the JVM outright (an
      // OOM under SparkUncaughtExceptionHandler exits the process) must
      // not be retried forever on resume — the sentinel row (-3) stands
      // as its result unless the query completes and overwrites it
      // (consolidation keeps the LAST row per name)
      Files.write(journal,
        (s"""{"name":"$name","t1":-3,"tk":-3,"ratio":-1.0,"load":[-1,-1]}""" + "\n")
          .getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      // untimed 1× warm pass: the first execution of a query pays its
      // codegen/compile cost; folding that into t1 deflates every ratio
      // (tk reuses the same generated classes — the plans differ only in
      // input paths). One warm run makes both sides steady-state.
      timedSide(name, sfDir)
      val (t1, la1) = timedSide(name, sfDir)
      val (tk, lak) = timedSide(name, repDir)
      val ratio = if (t1 > 0 && tk > 0) tk / math.max(t1, 1e-9) else -1.0
      val line =
        f"""{"name":"$name","t1":$t1%.2f,"tk":$tk%.2f,"ratio":$ratio%.2f,"load":[$la1%.1f,$lak%.1f]}"""
      Files.write(journal, (line + "\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      println(s"[scale] $line")
    }

    // consolidate journal → final artifact (sorted by name)
    val rows = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(journal)).asScala.filter(_.nonEmpty)
      .map(l => ("\"name\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1)).getOrElse(""), l))
      .toMap.toSeq.sortBy(_._1).map(_._2)
    val body = rows.map { l =>
      val n = "\"name\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1)).getOrElse("")
      "\"" + n + "\":" + l.replaceFirst("\"name\":\"[^\"]+\",", "")
    }.mkString(",\n  ")
    val out = s"""{"k":$k,"sf":"$sfDir","timeout_sec":$timeoutSec,"queries":{\n  $body\n}}\n"""
    Files.write(Paths.get(outPath), out.getBytes("UTF-8"))
    println(s"[scale] wrote $outPath (${rows.size} queries)")
    // ceiling enforcement: a ratio past its adjudicated ceiling (or past
    // the default adjudication boundary) fails the sweep loudly.
    // RATIO ceilings are calibrated at K=10 — every adjudication and
    // every honest-band measurement behind RatioCeilings is a 10× reading
    // — so at any other K (the K=30 spot-certs of r15 verdict item 3,
    // which exist to MEASURE a second point on each curve, not to re-gate
    // it) only the completed-both-sides gate applies and the ratios are
    // recorded for the BENCH.md adjudication note.
    // The exemption is an explicit allowlist (review finding, r16): K=30
    // is the adjudicated spot-cert mode — its ratios are two-point curve
    // evidence, not gate inputs. Any OTHER k (a typo, a future driver
    // value) still enforces the K=10 ceilings — at k > 10 they fail
    // loudly by construction, forcing a human to either add the new k to
    // the allowlist with its own adjudication or recalibrate; at k < 10
    // they can only pass vacuously, so the run carries an explicit
    // warning line instead of printing a clean bill it didn't earn.
    val ratioGateExempt = Set(30)
    val ratioGateEnforced = !ratioGateExempt.contains(k)
    if (!ratioGateEnforced)
      println(s"[scale] k=$k spot-cert: ratio ceilings recorded, not enforced (completion still gates)")
    else if (k != 10)
      println(s"[scale] WARNING k=$k is neither the calibration point (10) nor in the " +
        "spot-cert allowlist: enforcing K=10-calibrated ceilings — k>10 fails loudly, " +
        "k<10 passes vacuously; adjudicate before trusting this run's gate")
    val violations = rows.flatMap { l =>
      val n = "\"name\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1)).getOrElse("")
      def num(k: String) =
        s""""$k":(-?[0-9.]+)""".r.findFirstMatchIn(l).map(_.group(1).toDouble).getOrElse(-1.0)
      val (t1, tk, r) = (num("t1"), num("tk"), num("ratio"))
      val ceil = RatioCeilings.getOrElse(n, DefaultRatioCeiling)
      // an errored (-1), timed-out (-2), or crashed (-3 sentinel) side is
      // a WORSE scale finding than any ratio — it must fail the gate, not
      // slip past it as ratio -1
      if (t1 <= 0 || tk <= 0)
        Some(f"$n did not complete both sides (t1=$t1%.2f, tk=$tk%.2f)")
      else if (ratioGateEnforced && r > ceil)
        Some(f"$n ratio $r%.2f > ceiling $ceil%.1f" +
          (if (k != 10) f" (K=$k not in the spot-cert allowlist: K=10 ceilings enforced)" else ""))
      else None
    }
    if (violations.nonEmpty) {
      println(s"[scale] CEILING VIOLATIONS (${violations.size}):")
      violations.foreach(v => println(s"[scale]   $v"))
      spark.stop()
      sys.exit(2)
    }
    println("[scale] all ratios within adjudicated ceilings")
    spark.stop()
  }
}
