package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. A failing query reports
  * an "errors" entry and a negative time — it is never silently folded
  * into the total as a fast success.
  *
  * Contention robustness (the r10 lesson: a busy box inflated two
  * graph queries 5× in the driver's snapshot, and a single-shot
  * number cannot tell contention from regression): every query whose
  * first timing is ≥ [[RetimeFloorSecs]] is timed a SECOND time and
  * the MIN reported — re-running only the slow tail bounds the extra
  * wall-clock to roughly the tail's own cost while protecting exactly
  * the line items a contended scheduler distorts most. The JSON line
  * also records /proc/loadavg at start and end, so a contaminated run
  * is self-identifying even where the re-time didn't cover it.
  */
object Bench {

  /** First-pass seconds at or above which a query is timed twice. */
  val RetimeFloorSecs = 2.0

  /** RUN-START 1-min loadavg above which every slow query earns a
    * THIRD timing: min-of-2 cannot rescue a SUSTAINED-load run (a
    * 28.4 s report at load 3.5-5 vs 9.8 s isolated for the same
    * query) — when the box is already busy before this bench has done
    * any work, one more sample per slow query materially improves the
    * odds that some run lands in a quiet scheduler gap. The gate
    * reads the load BEFORE the warmup on purpose: mid-run loadavg is
    * dominated by this bench's own 32-thread execution (measured
    * 8-15 during a healthy quiet run), so a per-query gate would
    * self-trigger on every slow query; only the start value isolates
    * EXTERNAL contention. Per-query loads are still recorded in the
    * detail file as a diagnostic — read them relative to the bench's
    * own baseline, not as absolute idleness.
    */
  val LoadRetimeThreshold = 2.0

  /** Post-suite quiet-retime gate: a query whose recorded 1-min load
    * exceeded the RUN-START load by more than this is considered
    * spike-distorted and re-timed once more AFTER the whole suite (the
    * box is then past both the spike's 1-min window and the suite's
    * own warmup transient). The margin must clear the bench's OWN
    * steady-state load: a quiet full run measures per-query loads of
    * ~5–10 over a sub-1 start (max observed excess ≈ 9.3), while the
    * r12 external spike reached ~18 over a 3.3 start (excess ≈ 15) and
    * left q107 reporting 9.7 s where an isolated re-run measures
    * 3.6 s. 12 splits the two regimes with margin on both sides.
    * Both samples are kept in BENCH_DETAIL (`post_quiet_retimes`);
    * the reported number is the min.
    *
    * SUSTAINED load is the regime this excess gate cannot see (the r13
    * lesson: at start-load 4.9 with per-query loads ~9 — excess only
    * ~4 — min-of-3 still reported 9.9 s where an isolated run measures
    * 2.0 s, because all three samples were contemporaries of the same
    * contention): when the box was ALREADY busy before the bench did
    * any work (startLoad > [[LoadRetimeThreshold]]), EVERY query at or
    * above [[RetimeFloorSecs]] earns the post-suite retime — minutes
    * later is the one sample the main loop structurally cannot take.
    * Cost is bounded by one extra pass over the slow tail, paid only
    * in runs whose numbers were suspect anyway.
    */
  val PostRetimeExcess = 12.0

  /** Max seconds the post-suite pass WAITS for the 1-min load to decay
    * below [[LoadRetimeThreshold]] before retiming (the r14 lesson:
    * the retime pass itself ran while the box was still busy, so
    * min-of-3 contaminated samples impersonated clean numbers — q145
    * reported 33.3 s where an isolated run measures 8.3 s). The wait
    * is the cheapest honest fix: the suite is done, nothing else is
    * timed, and ~6 min covers the 1-min loadavg's decay from any
    * realistic external spike. If the bound is never reached, the
    * retimes still run but every candidate is stamped
    * `contaminated` in BENCH_DETAIL — the reader sees "all samples
    * were taken under load" instead of re-deriving it from loadavgs.
    */
  val QuietWaitMaxSecs = 360

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+").take(3).mkString(",")
    catch { case _: Throwable => "" }

  /** 1-min loadavg as a number (0.0 where /proc is unreadable). */
  private def load1min(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+").head.toDouble
    catch { case _: Throwable => 0.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Cores.local
    // Shuffle-partition override for scale sweeps: local[N] pins the
    // default to N, but a soak-scale run can spill per-partition —
    // sweeping this (without changing thread count) distinguishes
    // "needs a better plan" from "needs more partitions/executors",
    // the exact question a 1000-executor deployment asks.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Even with the UI off, AppStatusListener/SQLAppStatusListener
      // retain per-execution state in the driver: the defaults keep
      // 1000 SQL executions (each holding the full physical-plan tree
      // and metric maps — this registry's plans are large) plus jobs/
      // stages/tasks. Across 200+ queries × retimes that store grows
      // monotonically, bloating the old gen and listener-bus work for
      // every late query. Nothing reads it in a bench run — keep a
      // diagnostic handful only.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // External-contention gate input: must be read BEFORE this bench
    // generates any load of its own (see LoadRetimeThreshold).
    val startLoad = load1min()
    // Warm up the JVM/codegen/scheduler and the parquet reader path so
    // the alphabetically-first query isn't charged session startup.
    spark.range(1000000).selectExpr("sum(id) s").collect()
    graft.Tables.t(spark, sfDir, "region").count()
    val load0 = loadavg()
    var errors = Map.empty[String, String]
    // optional args: bench only the named queries (dev iteration; the
    // driver always runs argless and times the full registry)
    val only = args.toSet

    // Slow-tail self-attribution (the r15 lesson: two clean-box runs of
    // identical code swung 12% concentrated in the same slow queries,
    // and only judge-side isolated re-times could say "scheduler, not
    // plan"): each sample carries its own JVM GC-time delta and its
    // process-CPU occupancy (CPU seconds burned / (wall × threads)).
    // A slow line with near-baseline GC and LOW occupancy was waiting
    // on the scheduler; one with high GC or high occupancy was doing
    // real (or memory-pressured) work. Both deltas are measured INSIDE
    // the timed window — the inter-query System.gc() below would
    // otherwise dominate the GC number.
    def gcMsNow(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    def cpuNsNow(): Long =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
        case _ => 0L
      }
    val nThreads = cpus.toDouble

    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Long, Double) = {
      val t0 = System.nanoTime()
      val gc0 = gcMsNow()
      val cpu0 = cpuNsNow()
      // noop sink: fully evaluates every output column (a count() would
      // let Catalyst prune all unreferenced projections, timing little
      // more than the scan)
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          false
        }
      val secs = (System.nanoTime() - t0) / 1e9
      val gcDelta = gcMsNow() - gc0
      val occ =
        if (secs > 0) (cpuNsNow() - cpu0) / 1e9 / (secs * nThreads) else 0.0
      // Free blocks OUTSIDE the timed window: cached frames and eager
      // localCheckpoint blocks (near-dup/similarity pair sets) otherwise
      // accumulate across all queries and squeeze the shared
      // execution-memory pool for everything that follows.
      // blocking=true: async removal would run its block deletions
      // DURING the next query's timed window and contaminate it
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      // Force a GC in the untimed gap: Spark frees shuffle files,
      // broadcast blocks, and accumulators via ContextCleaner WEAK
      // references, and with a large heap no collection ever runs
      // during a 100-query suite — driver state then accumulates and
      // late queries measure 2-3x slower than the same query early in
      // the run (observed). spark.cleaner.periodicGC.interval defaults
      // to 30min, longer than the whole suite, so trigger it here.
      System.gc()
      (if (ok) secs else -secs, gcDelta, occ)
    }

    val timings = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .map { case (name, fn) =>
        val qLoad = load1min() // per-query load: contaminated lines self-identify
        val (first, qGc, qOcc) = timed(name, fn)
        // A transiently-failing RE-run must not turn a valid measured
        // success into a reported failure — snapshot the errors map
        // before each retime and restore it when the first run's time
        // is kept, so errors and per-query times stay consistent.
        def retimed(currentBest: Double): Double = {
          val snap = errors
          val again = timed(name, fn)._1
          if (again > 0) math.min(currentBest, again)
          else { errors = snap; currentBest }
        }
        val best =
          if (first >= RetimeFloorSecs) {
            val two = retimed(first)
            // box was busy before this bench started: min-of-2 under
            // sustained external load still reports contention, not
            // the query — take a third sample
            if (startLoad > LoadRetimeThreshold) retimed(two) else two
          } else first
        (name, best, qLoad, qGc, qOcc)
      }
    // Post-suite quiet retime (see PostRetimeExcess): re-time every
    // slow query whose first-timing load showed an EXTERNAL spike
    // (excess over run-start beyond the bench's own steady-state) now
    // that the suite's tail has passed the spike's 1-min window. Same
    // JVM, same warmed code cache — exactly the conditions the main
    // loop's late slots ran under, minus the spike.
    val lookup = SparkEntry.queries
    val retimeCandidates = timings.collect {
      case (name, best, qLoad, _, _)
          if best >= RetimeFloorSecs &&
            (qLoad - startLoad > PostRetimeExcess ||
              startLoad > LoadRetimeThreshold) => name
    }
    // WAIT for quiet before retiming (see QuietWaitMaxSecs): the
    // retime exists to take one sample the contention couldn't touch —
    // taking it while the load is still high defeats the pass.
    val quietWaitStart = System.nanoTime()
    var quietLoad = load1min()
    if (retimeCandidates.nonEmpty) {
      val deadline = quietWaitStart + QuietWaitMaxSecs * 1000000000L
      while (quietLoad > LoadRetimeThreshold && System.nanoTime() < deadline) {
        Thread.sleep(10000)
        quietLoad = load1min()
      }
    }
    val quietWaitSecs = (System.nanoTime() - quietWaitStart) / 1e9
    // quietLoad still above the bound after the full wait ⇒ the box
    // never went quiet: every candidate's samples — main loop AND this
    // pass — were taken under external load, and the min must not
    // impersonate a clean number.
    val contaminated: Seq[String] =
      if (quietLoad > LoadRetimeThreshold) retimeCandidates else Seq.empty
    val postRetimes: Map[String, Double] = retimeCandidates.map { name =>
      val snap = errors
      val again = timed(name, lookup(name))._1
      if (again <= 0) errors = snap // keep the measured main-loop run
      name -> again
    }.toMap
    val results = timings.map { case (name, best, _, _, _) =>
      name -> (postRetimes.get(name) match {
        case Some(again) if again > 0 => math.min(best, again)
        case _ => best
      })
    }
    def js(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    // Locale-pinned: f"$v%.3f" uses the JVM default locale, and a
    // comma-decimal locale (de_DE, fr_FR) would corrupt the JSON line.
    def dp3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Full-name per-query times for humans, on their own line, AND as
    // a repo file — the driver keeps only the last ~2 KB of stdout, so
    // at 180+ queries a full per-query map can never ride the machine
    // line (r09's BENCH file captured a mid-map fragment and parsed
    // null). The file is rewritten on every run; cross-round per-query
    // comparisons read it.
    val fullQs =
      results.map { case (k, v) => js(k) + ":" + dp3(v) }.mkString("{", ",", "}")
    println(s"""BENCH_DETAIL $fullQs""")
    val total = results.collect { case (_, v) if v > 0 => v }.sum
    val load1 = loadavg()
    // Detail file lands in the repo this Bench ran FROM (overridable),
    // not a hardcoded absolute path; a failed write is reported, not
    // swallowed — the bench result itself is still on stdout.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      sys.props.getOrElse("user.dir", ".") + "/BENCH_DETAIL.json")
    // Per-query 1-min loadavg at first-timing (detail file only — the
    // machine line must stay under the driver's ~2 KB tail capture):
    // lets a reader attribute any slow line item to contention without
    // an isolated re-run.
    val qLoads = timings.map { case (k, _, l, _, _) => js(k) + ":" + dp3(l) }
      .mkString("{", ",", "}")
    // First-sample GC delta (ms) and CPU occupancy per query (detail
    // file only): the two numbers that let a slow-tail swing attribute
    // itself — scheduler noise reads as low occupancy with baseline
    // GC; memory pressure as a GC spike; real plan drift as high
    // occupancy sustained. The FIRST sample is the one the main-loop
    // snapshot would have reported, so it is the one worth explaining.
    val qGcs = timings.map { case (k, _, _, g, _) => js(k) + ":" + g }
      .mkString("{", ",", "}")
    def dp2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qOccs = timings.map { case (k, _, _, _, o) => js(k) + ":" + dp2(o) }
      .mkString("{", ",", "}")
    // both samples of every post-suite quiet retime: [main-loop best,
    // post-suite sample] — the reported number is the min, but a
    // reader auditing a spike sees what each pass measured. A FAILED
    // retime records null (never the negative sentinel — a reader
    // would otherwise see a nonsensical negative second sample with
    // the error swallowed by the errors-map restore).
    val postJson = timings.collect {
      case (k, best, _, _, _) if postRetimes.contains(k) =>
        val again = postRetimes(k)
        js(k) + s":[${dp3(best)},${if (again > 0) dp3(again) else "null"}]"
    }.mkString("{", ",", "}")
    val contamJson = contaminated.map(js).mkString("[", ",", "]")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailPath),
      s"""{"metric":"total","value":${dp3(total)},"unit":"sec","sf":"$sfDir","load_start":${js(load0)},"load_end":${js(load1)},"queries":$fullQs,"query_loads":$qLoads,"query_gc_ms":$qGcs,"query_cpu_occ":$qOccs,"post_quiet_retimes":$postJson,"post_quiet_wait_secs":${dp3(quietWaitSecs)},"post_quiet_load":${dp3(quietLoad)},"contaminated":$contamJson}""")
    catch { case e: Throwable =>
      System.err.println(s"[bench] WARN could not write $detailPath: $e") }
    // Machine line: MUST fit the driver's ~2 KB tail capture whole, or
    // it is unparseable. Slowest 45 queries inline (the diagnostic
    // signal), the rest folded into one aggregate.
    val (shown, folded) = results.sortBy(-_._2).splitAt(45)
    val qs = shown.sortBy(_._1).map { case (k, v) =>
      js(k.takeWhile(_ != '_')) + ":" + dp3(v)
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) =>
      js(k.takeWhile(_ != '_')) + ":" + js(v.take(60))
    }.mkString("{", ",", "}")
    val foldedSecs = folded.collect { case (_, v) if v > 0 => v }.sum
    println(s"""{"metric":"total","value":${dp3(total)},"unit":"sec","n_queries":${results.size},"queries":$qs,"other":{"n":${folded.size},"secs":${dp3(foldedSecs)}},"errors":$errJson,"load":${js(load0 + ";" + load1)},"contam":${contaminated.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
