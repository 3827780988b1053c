package graft
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicInteger

/** Benchmark main (driver contract): runs every [[SparkEntry.queries]]
  * entry at `SPARK_GRAFT_SF_DIR`, printing a machine-parseable JSON
  * summary. Two outputs, because the driver keeps only a ~2000-char
  * tail of sbt stdout (BENCH_r07–r09 all carried `"parsed": null`):
  *
  *  - the FULL stamped JSON (per-query min-of-stable seconds — 2 runs,
  *    extended to ≤4 until the fastest pair agrees within 30% — all raw
  *    runs, loadavg at start/end and per-query, boot_id + uptime,
  *    per-table fixture row counts — the round-6 fixture-drift lesson
  *    institutionalized) is written to EXACTLY ONE path per
  *    [[resolveBoardPath]]: `SPARK_GRAFT_BENCH_OUT` when set, else
  *    `bench_full.json` in the cwd — and a contaminated run never
  *    overwrites an existing board;
  *  - stdout's LAST line is a COMPACT version of the same JSON whose
  *    `queries` map is trimmed to the slowest entries that fit a
  *    1900-byte budget (`queries_omitted` counts the rest, `full`
  *    points at the full file) so the tail still parses.
  *
  * Spark job counts are always recorded per query into the full JSON
  * (`jobs` = count from the run that produced the min time,
  * `jobs_runs` = per-run counts alongside `runs`) — at fixture scale
  * iterative queries are job-count dominated, so this is the first
  * regression signal (the ProfileQ device, here for free each round).
  */
object Bench {
  /** (1-minute, 5-minute) loadavg, sampled now (0.0 if /proc is
    * unreadable). The 5-minute figure is what the contamination
    * DIVERSION keys on: sbt's own startup (JVM spin-up + compile check
    * on 32 cores) can push the 1-minute average past 2 before main()
    * samples it even on a machine that was idle at launch — a foreign
    * workload shows in BOTH figures, the self-spike only in the first. */
  private def loads(): (Double, Double) =
    try {
      val f = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .trim.split(" ")
      (f(0).toDouble, f(1).toDouble)
    } catch { case _: Throwable => (0.0, 0.0) }
  private def load1(): Double = loads()._1

  private def procLine(p: String): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get(p)).trim
    catch { case _: Throwable => "" }

  /** Kernel boot identity: boards are boot-sensitive (~15-20% uniform
    * drift after reboot, CLAUDE.md) — stamping boot_id + uptime makes the
    * "only compare same-boot boards" rule machine-checkable. */
  private[graft] def bootId(): String = procLine("/proc/sys/kernel/random/boot_id")
  private[graft] def uptimeSec(): Double =
    procLine("/proc/uptime").split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)

  /** Board output-path policy (round-12 directive #2): the full JSON goes
    * to EXACTLY ONE path — `SPARK_GRAFT_BENCH_OUT` when set, else
    * `bench_full.json` in the cwd (never both; a side run to /tmp used to
    * clobber the committed board via the unconditional cwd write). A run
    * whose contamination banner fired never overwrites an EXISTING board:
    * it is diverted to `<target>.contaminated` so the clean committed
    * numbers survive the driver's loaded sweeps. Pure so
    * `BenchBoardSpec` can pin every branch. */
  private[graft] def resolveBoardPath(envOut: Option[String],
      contaminated: Boolean, exists: String => Boolean): (String, Boolean) = {
    val target = envOut.getOrElse("bench_full.json")
    if (contaminated && exists(target)) (target + ".contaminated", true)
    else (target, false)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Measurement-integrity guard (round-11 lesson: the driver's board ran
    // at loadavg 5.66 with run-pair spreads up to 2.3x, making every
    // cross-round per-query comparison worthless). The CLAUDE.md rule
    // "never bench concurrently" enforced in code: refuse silently never,
    // warn loudly always.
    val (startLoad, startLoad5) = loads()
    val contaminated = startLoad > 2.0 && startLoad5 > 2.0
    if (startLoad > 2.0) {
      val banner =
        s"!!! BENCH CONTAMINATED: starting loadavg $startLoad > 2.0 — another " +
        "workload shares these cores; per-query numbers from this run are " +
        "NOT comparable across rounds. Re-run on an idle machine. !!!" +
        (if (!contaminated)
          s" (5-min avg $startLoad5 <= 2: likely this launcher's own startup spike)"
         else "")
      System.err.println(banner); println(banner)
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobCount = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCount.incrementAndGet(); ()
        }
      })
    // optional comma-separated name filter for targeted local iteration
    // (the driver never sets it — full sweep)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val queries = SparkEntry.queries.filter(q => only.forall(_.contains(q._1)))
    // JVM/codegen warmup at the smallest SF so per-query numbers measure
    // the plan, not first-query JIT + classloading (~15s otherwise lands
    // on whichever query happens to run first).
    queries.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    ops.Caches.releaseCaches(); ops.Caches.releaseStreamingState(spark); spark.catalog.clearCache() // drop persists leaked by warmup queries
    val results = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // min of stable runs: steady-state per query, so first-run codegen/JIT and
      // GC debt inherited from earlier queries doesn't land on whichever
      // query happens to run late in the loop (round-1 artifact: tfidf
      // "37.5s" of which ~30s was inherited pause, 1.8s steady-state).
      // listener events are delivered on the async bus thread: drain it
      // before reading/zeroing the counter, or a late onJobStart from
      // this run undercounts here and bleeds into the next run's zero
      def drainListenerBus(): Unit = try {
        val bus = spark.sparkContext.getClass.getMethod("listenerBus")
          .invoke(spark.sparkContext)
        bus.getClass.getMethods
          .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
          .foreach(_.invoke(bus))
      } catch { case _: Throwable => () }
      def runOnce(): (Double, Int, Double) = {
        val l = load1()
        drainListenerBus(); jobCount.set(0)
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
        val t = (System.nanoTime() - t0) / 1e9
        drainListenerBus()
        val j = jobCount.get()
        ops.Caches.releaseCaches(); ops.Caches.releaseStreamingState(spark); spark.catalog.clearCache() // isolate queries: no cross-query cache reuse
        System.gc() // pay GC debt HERE, not inside the next query's timing
        (t, j, l)
      }
      // min of 2 runs normally; when the pair disagrees by >30% the min is
      // not trustworthy (round-11 board: pairs spread up to 2.3x under
      // load) — keep re-running (cap 4) until the two FASTEST runs agree
      // within 30%, and report the min of those. All raws are kept.
      val measured = scala.collection.mutable.ArrayBuffer(runOnce(), runOnce())
      def fastestPairStable(): Boolean = {
        val ts = measured.map(_._1).sorted
        ts(1) <= ts(0) * 1.3
      }
      while (!fastestPairStable() && measured.size < 4) measured += runOnce()
      val runs = measured.map(_._1).toSeq
      // the headline `jobs` stamp must describe the SAME run as the
      // reported min time, or the pair is incoherent (it was run-2's
      // count next to min-of-both timing through round 10)
      val best = measured.minBy(_._1)
      (name, best._1, runs, best._2, measured.map(_._2).toSeq,
        best._3, !fastestPairStable())
    }
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Headline throughput vs the reference's 10^4-10^5 events/s design
    // target (BASELINE.md): full changelog apply (normalize -> route ->
    // LWW merge) measured end-to-end. Steady-state: best of 3 runs, so a
    // GC pause inherited from the preceding query loop can't masquerade
    // as apply cost (it did in round 1: 4530 "ev/s" from one 22 s outlier
    // vs the 0.6 s the same query took inside the loop).
    val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
    val applySec = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      SparkEntry.queries("cdc_lww_state")(spark, sfDir).count()
      // capture BEFORE teardown, matching the per-query loop — cache
      // eviction is harness bookkeeping, not apply cost
      val t = (System.nanoTime() - t0) / 1e9
      ops.Caches.releaseCaches(); ops.Caches.releaseStreamingState(spark); spark.catalog.clearCache()
      t
    }.min
    val eps = (nEvents / applySec).round
    // stamps: cross-round comparisons need to know what they ran against
    val loadavg = try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val fixtureRows = tables.flatMap { t =>
      try Some(t -> spark.read.parquet(s"$sfDir/$t.parquet").count())
      catch { case _: Throwable => None }
    }
    def fmt(d: Double): String = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def qmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // `loadavg` = end-of-run (legacy stamp), `loadavg_start` = before the
    // warmup pass, `load` = 1-min loadavg sampled before the MIN run of
    // each query, `unstable` = queries whose fastest pair never converged
    // within 30% even after 4 runs (treat their numbers as suspect).
    val unstable = results.filter(_._7).map(_._1)
    val stamps =
      s""""apply_events_per_sec":$eps,"sf":"$sfDir","loadavg":"$loadavg",""" +
      s""""loadavg_start":${fmt(startLoad)},"loadavg_start5":${fmt(startLoad5)},""" +
      s""""boot_id":"${bootId()}","uptime_sec":${fmt(uptimeSec())},""" +
      s""""unstable":[${unstable.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""fixture_rows":${fixtureRows.map { case (t, n) => "\"" + t + "\":" + n }.mkString("{", ",", "}")}"""
    val runsJson = results.map { case (k, _, rs, _, _, _, _) =>
      "\"" + k + "\":[" + rs.map(fmt).mkString(",") + "]" }.mkString("{", ",", "}")
    val loadJson = results.map { case (k, _, _, _, _, l, _) =>
      "\"" + k + "\":" + fmt(l) }.mkString("{", ",", "}")
    val jobsJson =
      results.map { case (k, _, _, j, _, _, _) =>
        "\"" + k + "\":" + j }.mkString(""","jobs":{""", ",", "}") +
      results.map { case (k, _, _, _, js, _, _) =>
        "\"" + k + "\":[" + js.mkString(",") + "]" }.mkString(""","jobs_runs":{""", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${qmap(results.map(r => r._1 -> r._2))},""" +
      s"""$stamps,"runs":$runsJson,"load":$loadJson$jobsJson}"""
    val (boardPath, diverted) = resolveBoardPath(
      sys.env.get("SPARK_GRAFT_BENCH_OUT"), contaminated,
      p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
    if (diverted) {
      val msg = s"!!! contaminated run: existing board left untouched; full JSON diverted to $boardPath !!!"
      System.err.println(msg); println(msg)
    }
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(boardPath), fullLine + "\n")
    catch { case _: Throwable => () }
    // compact stdout line LAST: slowest queries first until the byte
    // budget is spent — the 2000-char driver tail must keep a parseable
    // JSON object with the headline numbers
    // 2000-char driver tail minus sbt's "[info] " prefix, the trailing
    // "[success] Total time: ..." line and a blank-line margin
    val budget = 1750
    val bySlow = results.sortBy(-_._2)
    val fixed =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$stamps,""" +
      s""""full":"$boardPath","queries_omitted":000,"queries":{}}"""
    var used = fixed.length
    val kept = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    bySlow.foreach { case (k, v, _, _, _, _, _) =>
      val cost = k.length + fmt(v).length + 4
      if (used + cost <= budget) { kept += (k -> v); used += cost }
    }
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$stamps,""" +
      s""""full":"$boardPath","queries_omitted":${results.size - kept.size},""" +
      s""""queries":${qmap(kept.toSeq)}}"""
    println(fullLine) // humans and any driver that keeps full stdout
    println(compact)  // the line the 2000-char tail actually preserves
    spark.stop()
  }
}
