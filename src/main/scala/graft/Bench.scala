package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** The driver-loop block (r15 brief #3): BPE/IVF/PQ trainers, the
    * label-propagation span remover, host PageRank and the stream
    * funnel — queries whose cost is a driver-paced loop of small
    * jobs. Measured across r14/r15 quiet batteries, the block swings
    * 1.5–2.2× with BATTERY POSITION alone (JIT/GC/page-cache state
    * left behind by ~100 prior queries), polluting the drift signal.
    * The battery therefore runs it in its OWN child JVM slot (the
    * q309/q310 isolated-bench discipline, automated); gate rows for
    * these queries are recorded from that slot. */
  val IsolatedBlock: Set[String] = Set(
    "q100_bpe_merges", "q101_bpe_segment", "q102_span_removal",
    "q103_ivf_cells", "q104_host_quality", "q105_stream_funnel",
    "q106_ann_pq", "q312_bpe_batched", "q313_bpe_batched_segment")

  /** Gate-ratio above which a battery row is automatically
    * re-measured in an isolated child JVM (r15 brief #2: the
    * artifact chain must carry its own adjudication — a 2.9× row
    * that only a judge's manual A/B exonerates is a process bug). */
  val AbThreshold = 1.5

  /** Upper bound on auto-A/B children per run: a CONTENDED box can
    * push dozens of rows past 1.5× at once, and re-running them all
    * isolated would double the battery; the worst offenders carry
    * the adjudication signal. */
  val AbMaxChildren = 8

  private def isChild = sys.env.contains("SPARK_GRAFT_AB_CHILD")

  /** Spawn a child Bench JVM over exactly `queries` and return its
    * per-query seconds. The child inherits this JVM's flags (minus
    * debug agents) and classpath; its stdout is diverted to a temp
    * file so the DRIVER's final-stdout-line parse only ever sees the
    * parent. None = spawn/parse failure or timeout (caller falls
    * back to in-process measurement). */
  private def runChild(queries: Seq[String], sfDir: String,
      cpus: String, timeoutSec: Long): Option[Map[String, Double]] = {
    try {
      val javaBin = new java.io.File(
        new java.io.File(System.getProperty("java.home"), "bin"),
        "java").getAbsolutePath
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments
      val keep = new java.util.ArrayList[String]()
      keep.add(javaBin)
      jvmArgs.forEach { a =>
        if (!a.startsWith("-agentlib") && !a.startsWith("-javaagent") &&
            !a.startsWith("-Xrunjdwp")) keep.add(a)
      }
      keep.add("-cp")
      keep.add(System.getProperty("java.class.path"))
      keep.add("graft.Bench")
      val detailOut = java.io.File.createTempFile("bench_child", ".json")
      detailOut.deleteOnExit()
      val outLog = java.io.File.createTempFile("bench_child", ".out")
      outLog.deleteOnExit()
      val pb = new ProcessBuilder(keep)
      pb.directory(new java.io.File(System.getProperty("user.dir")))
      val env = pb.environment()
      env.put("SPARK_GRAFT_AB_CHILD", "1")
      env.put("SPARK_GRAFT_QUERIES", queries.mkString(","))
      env.put("SPARK_GRAFT_DETAIL_OUT", detailOut.getAbsolutePath)
      env.put("SPARK_GRAFT_SF_DIR", sfDir)
      env.put("SPARK_GRAFT_CPUS", cpus)
      env.remove("SPARK_GRAFT_QUIET_OUT")
      pb.redirectOutput(outLog)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val t0 = System.nanoTime()
      val p = pb.start()
      val done = p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) {
        p.destroyForcibly()
        System.err.println(
          s"[bench] child (${queries.size} queries) timed out after ${timeoutSec}s")
        return None
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (p.exitValue() != 0) {
        System.err.println(
          s"[bench] child exited ${p.exitValue()} (${queries.mkString(",")})")
        return None
      }
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.readTree(detailOut)
      val qs = node.get("queries")
      if (qs == null) return None
      val b = Map.newBuilder[String, Double]
      val it = qs.fields()
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> e.getValue.asDouble()
      }
      System.err.println(f"[bench] child ok: ${queries.size} queries in $wall%.1f s wall")
      Some(b.result())
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] child spawn failed: ${e.getMessage}")
      None
    }
  }

  def main(args: Array[String]): Unit = {
    graft.util.HostLoad.record()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Dev-only off-switch for A/B plan comparisons (driver runs default=on)
      .config("spark.sql.extensions",
        if (sys.env.get("SPARK_GRAFT_EXTENSIONS").contains("off")) ""
        else "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Dev-only attribution instruments (r17 optimization round): with
    // SPARK_GRAFT_BENCH_DEBUG set, every micro-batch's progress line
    // (batch id, rows, triggerExecution/addBatch/walCommit/
    // stateStoreCommit ms) and every Spark job's wall+description go
    // to stderr — the per-query seconds say WHICH query is slow,
    // these say WHERE inside it (wave prep vs trigger loop vs
    // per-iteration jobs). Never armed in the driver's run.
    if (sys.env.contains("SPARK_GRAFT_BENCH_DEBUG")) {
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          def onQueryStarted(e: QueryStartedEvent): Unit = ()
          def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          def onQueryProgress(e: QueryProgressEvent): Unit = {
            val p = e.progress
            val d = p.durationMs
            def ms(k: String) =
              Option(d.get(k)).map(_.toString).getOrElse("-")
            System.err.println(
              s"[bench-debug] stream=${p.name} batch=${p.batchId} " +
              s"rows=${p.numInputRows} trigger=${ms("triggerExecution")} " +
              s"addBatch=${ms("addBatch")} getBatch=${ms("getBatch")} " +
              s"latestOffset=${ms("latestOffset")} " +
              s"queryPlanning=${ms("queryPlanning")} " +
              s"walCommit=${ms("walCommit")} commitOffsets=${ms("commitOffsets")} " +
              s"stateRows=${p.stateOperators.map(_.numRowsTotal).sum} " +
              s"stateCommitMs=${p.stateOperators.map(_.commitTimeMs).sum}")
          }
        })
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(j.jobId, (System.nanoTime(),
              Option(j.properties)
                .map(_.getProperty("spark.job.description", "")).getOrElse("")))
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val s = starts.remove(j.jobId)
            if (s != null) {
              val sec = (System.nanoTime() - s._1) / 1e9
              if (sec >= 0.05) System.err.println(
                f"[bench-debug] job=${j.jobId} $sec%.2fs ${s._2.take(80)}")
            }
          }
        })
    }
    // Absorb one-time session warmup (parquet reader init, codegen
    // compiler, first shuffle, first window) OUTSIDE the measured
    // loop — otherwise the alphabetically-first query is billed ~5 s
    // of JVM warmup that belongs to no query (r2 measured q10 at
    // 6.3 s in-harness vs 1.3 s in isolation for this reason).
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/nation.parquet")
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"))
        .withColumn("r", row_number().over(
          Window.partitionBy(col("n_regionkey")).orderBy(col("n"))))
        .write.format("noop").mode("overwrite").save()
      // Touch every input table once so OS page-cache state is
      // uniform when the measured loop starts — otherwise whichever
      // query sorts alphabetically first is billed the cold read of
      // its table (lineitem/documents are tens of MB at sf0.1; a
      // fresh box showed q10..q18 inflated 2-4× purely by read
      // order). A full-column noop read per table is the warmup.
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        val p = new java.io.File(s"$sfDir/$t.parquet")
        if (p.exists())
          spark.read.parquet(p.toString)
            .write.format("noop").mode("overwrite").save()
      }
    } catch { case scala.util.control.NonFatal(e) =>
      // a warmup failure must not kill the bench — the measured loop
      // isolates per-query failures as -1.0 sentinels and must still
      // emit the JSON line. (Fatal VM errors still propagate: timings
      // from a corrupted heap would be worse than no timings.)
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }
    // Materialize the FULL result via a noop write: a bare .count()
    // would let Catalyst prune the aggregate expressions and
    // under-measure. Errors surface as negative sentinel times plus a
    // stderr line — a broken query must never bench as a fast one.
    // Dev-only subset filter (unset in the driver's run = all queries).
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    // Consolidated per-query gate rows (BASELINE.md quiet batteries,
    // maintained as tools/gate_rows.json). Gate rows are sf0.1
    // in-battery figures — diffing them against a different scale
    // factor (or a dev subset run) would manufacture breaches, so
    // the diff only arms on sf0.1.
    val gatesArmed = sfDir.replaceAll("/+$", "").endsWith("sf0.1")
    val gates: Map[String, Double] =
      try {
        val f = new java.io.File("tools/gate_rows.json")
        if (!gatesArmed || !f.exists()) Map.empty
        else {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val node = om.readTree(f)
          val it = node.fields()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
          b.result()
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] gate rows unreadable: ${e.getMessage}")
        Map.empty
      }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // r17 (r16 verdict "what's wrong" #2): a child JVM used to measure
    // with COLD JIT — every r16h A/B "isolated" reading came out 3.5 to
    // 4.8× of gate while the same queries sat at 0.3–1.9× in quiet
    // batteries, so the instrument could neither exonerate nor convict.
    // A child now runs its full query set ONCE, unmeasured, before the
    // measured loop: the isolated reading is warm-JIT like the
    // in-battery gate rows it adjudicates. (Failures are ignored here —
    // the measured loop reports them as -1 sentinels.)
    if (isChild) {
      selected.foreach { case (_, f) =>
        try f(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
      System.err.println(
        s"[bench] child warm-JIT pass done (${selected.size} queries)")
    }
    // the driver-loop block runs in its own child JVM slot on gated
    // (sf0.1) parent runs; everything else is the in-process battery
    val isolateBlock = gatesArmed && !isChild &&
      selected.exists { case (n, _) => IsolatedBlock(n) }
    val (blockQs, batteryQs) =
      if (isolateBlock) selected.partition { case (n, _) => IsolatedBlock(n) }
      else (Seq.empty, selected)
    // Per-query host context: the r8 driver run showed a contiguous
    // q72–q77 breach block caused by a MID-battery load window that
    // the single per-RUN canary could not see (load1_pre 3.57, later
    // adjudicated as contention on a quiet re-run). Sampling loadavg
    // and steal around EVERY query makes a contended measurement
    // self-evident in the JSON line itself.
    def measure(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (String, Double, Double, Double, Double) = {
      val (load1, _, _) = graft.util.HostLoad.loadAvg()
      val (s0, j0) = graft.util.HostLoad.cpuJiffies()
      // ~1 ms of fixed single-thread work per query: effective CPU
      // speed sampled INSIDE the battery (r9 saw an 8× host window
      // that loadavg, steal and the per-run canary all missed)
      val canary = graft.util.HostLoad.cpuCanaryMs(8)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      val (s1, j1) = graft.util.HostLoad.cpuJiffies()
      val steal = if (j1 > j0) 100.0 * (s1 - s0) / (j1 - j0) else Double.NaN
      // operators persist intermediates (hashed corpora, normed
      // embeddings) scoped to their own query; release them so caches
      // don't pile up across the battery and evict each other
      spark.catalog.clearCache()
      // clearCache only reaches the SQL cache — locally-checkpointed
      // RDDs a query could not release inline (final loop states,
      // lineage-cut build frames feeding the lazy result) otherwise
      // survive to ContextCleaner GC and pile storage pressure onto
      // every later query (guide §5). The query is over; sweep them.
      // The sweep takes EVERY persistent RDD, so it relies on one
      // invariant: no frame may stay persisted (or locally
      // checkpointed) from one query to the next; a frame shared
      // across queries would lose its data here. Runs AFTER the timed
      // region — measurement methodology unchanged.
      val leftovers = spark.sparkContext.getPersistentRDDs
      if (sys.env.contains("SPARK_GRAFT_BENCH_DEBUG"))
        System.err.println(s"[bench-debug] $name leakedRdds=${leftovers.size} " +
          leftovers.values.take(5).map(r => s"${r.id}:${r.name}").mkString(","))
      leftovers.values.foreach(_.unpersist(blocking = false))
      (name, if (ok) sec else -1.0, load1, steal, canary)
    }
    val batteryResults = batteryQs.map { case (n, f) => measure(n, f) }
    // isolated block slot: one child JVM over the block, merged into
    // the same artifact tagged with its slot; on spawn failure the
    // block falls back to the in-process tail (slot says so)
    var blockIsolatedOk = false
    val blockResults: Seq[(String, Double, Double, Double, Double)] =
      if (blockQs.isEmpty) Seq.empty
      else runChild(blockQs.map(_._1), sfDir, cpus, 2400) match {
        case Some(times) =>
          blockIsolatedOk = true
          blockQs.map { case (n, _) =>
            (n, times.getOrElse(n, -1.0), Double.NaN, Double.NaN, Double.NaN)
          }
        case None => blockQs.map { case (n, f) => measure(n, f) }
      }
    val results = (batteryResults ++ blockResults).sortBy(_._1)
    val slotOf: Map[String, String] = results.map { case (k, _, _, _, _) =>
      k -> (if (blockIsolatedOk && IsolatedBlock(k)) "isolated_block"
            else "battery")
    }.toMap
    val ratioOf: Map[String, Double] = results.collect {
      case (k, v, _, _, _) if v >= 0 && gates.contains(k) => k -> v / gates(k)
    }.toMap
    // auto-A/B (r15 brief #2): every gated row past AbThreshold is
    // re-measured in its OWN child JVM and both numbers ship in the
    // artifact — the q53/q67 manual adjudication discipline,
    // automated. Rows already measured in the isolated block slot
    // ARE isolated readings; re-running them would measure nothing
    // new. Worst offenders first, bounded by AbMaxChildren.
    val abTargets =
      if (!gatesArmed || isChild) Seq.empty
      else results.collect {
        case (k, v, _, _, _) if v >= 0 &&
          ratioOf.get(k).exists(_ > AbThreshold) &&
          slotOf(k) == "battery" => (k, v)
      }.sortBy { case (k, _) => -ratioOf(k) }.take(AbMaxChildren)
    val ab: Seq[(String, Double, Option[Double])] = abTargets.map {
      case (k, battSec) =>
        val iso = runChild(Seq(k), sfDir, cpus, 900)
          .flatMap(_.get(k)).filter(_ >= 0)
        (k, battSec, iso)
    }
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def num(d: Double) = if (d.isNaN) "null"
      else BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val ctx = results.map { case (k, _, l1, st, cn) =>
      "\"" + k + "\":{\"load1\":" + num(l1) + ",\"steal_pct\":" + num(st) +
        ",\"canary_ms\":" + num(cn) +
        ",\"slot\":\"" + slotOf(k) + "\"" +
        ratioOf.get(k).map(r => ",\"gate_ratio\":" + num(r)).getOrElse("") +
        "}"
    }.mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    val total = results.collect { case (_, v, _, _, _) if v >= 0 => v }.sum
    def num3(d: Double) = if (d.isNaN) "null"
      else BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
    // a >2× row whose ISOLATED re-run lands under 2× is contention,
    // not regression — the ab block carries the exoneration; rows
    // without an isolated reading stay plain breaches
    val abIso: Map[String, Double] = ab.collect {
      case (k, _, Some(i)) => k -> i
    }.toMap
    val breaches = results.collect {
      case (k, v, l1, st, cn) if v >= 0 && gates.get(k).exists(g => v > 2.0 * g) =>
        (k, gates(k), v, v / gates(k), l1, st, cn)
    }.sortBy(-_._4)
    breaches.foreach { case (k, g, v, r, l1, st, cn) =>
      val isoNote = abIso.get(k)
        .map(i => f" isolated=$i%.2f (${i / g}%.2fx)").getOrElse("")
      System.err.println(f"[bench] BREACH $k%s gate=$g%.2f now=$v%.2f ratio=$r%.2f (load1=$l1%.2f steal=$st%.2f%% canary=$cn%.1fms)$isoNote")
    }
    val breachJson = breaches.map { case (k, g, v, r, _, _, _) =>
      s"""{"query":"$k","gate":${num3(g)},"now":${num3(v)},"ratio":${num3(r)}${
        abIso.get(k).map(i => s""","isolated":${num3(i)},"isolated_ratio":${num3(i / g)}""").getOrElse("")}}"""
    }.mkString("[", ",", "]")
    val abJson = ab.map { case (k, batt, iso) =>
      s""""$k":{"battery":${num3(batt)},"isolated":${iso.map(num3).getOrElse("null")},"gate":${num3(gates(k))},"battery_ratio":${num3(ratioOf(k))},"isolated_ratio":${iso.map(i => num3(i / gates(k))).getOrElse("null")}}"""
    }.mkString("{", ",", "}")
    // FULL artifact — per-query seconds, per-query host context +
    // slot + gate ratio, the auto-A/B block, breaches — written to a
    // tracked file. Rounds 1-12 proved any final-LINE design whose
    // length grows with query count eventually overflows the
    // driver's 2000-char tail window (11 of 12 rounds landed
    // `parsed: null`), so the per-query map lives here, never on
    // stdout's last line.
    val detail =
      s"""{"metric":"total_verbose","value":${num3(total)},"unit":"sec","n":${results.size},"failed":$failed,"sf":"$sfDir","queries":$qs,"query_ctx":$ctx,"gate_breaches":$breachJson,"ab":$abJson,"isolated_block_ok":$blockIsolatedOk,"gate_rows_known":${gates.size},${graft.util.HostLoad.jsonFragment()}}"""
    if (!isChild) {
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
          (detail + "\n").getBytes("UTF-8"))
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] BENCH_DETAIL.json write failed: ${e.getMessage}")
        println(detail) // keep the data recoverable from scrollback at worst
      }
    }
    // a CHILD writes its artifact where the parent asked, and only
    // there — a child must never clobber the parent's tracked file
    sys.env.get("SPARK_GRAFT_DETAIL_OUT").foreach { p =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (detail + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $p write failed: ${e.getMessage}")
      }
    }
    // quiet-box batteries are adjudication EVIDENCE and must survive
    // the next (possibly contended) Bench run overwriting
    // BENCH_DETAIL.json — the r13 verdict's process finding. Setting
    // SPARK_GRAFT_QUIET_OUT=BENCH_QUIET_r16.json copies the same
    // artifact to a per-round tracked file the judge can diff.
    sys.env.get("SPARK_GRAFT_QUIET_OUT").foreach { p =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (detail + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $p write failed: ${e.getMessage}")
      }
    }
    if (failed > 0) System.err.println(s"[bench] $failed queries failed")
    spark.stop()
    // FINAL stdout line = the driver-parsed artifact, carrying the FULL
    // per-query map (r17 verdict item 2: the 2-entry headline map left
    // the driver's regression and scaling analysis blind — PERF could
    // compare only 2 of 343 queries). ~9 KB for 343 entries; the r1-r10
    // parsed:null failures were the sbt "[info] " prefix (fixed by
    // run/outputStrategy), not line length. Host context, gate ratios,
    // breaches and the A/B block stay in BENCH_DETAIL.json (tracked).
    val qline = results.map { case (k, v, _, _, _) =>
      "\"" + k + "\":" + num3(v)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${num3(total)},"unit":"sec","n":${results.size},"failed":$failed,"breaches":${breaches.size},"sf":"$sfDir","queries":$qline,"detail":"BENCH_DETAIL.json"}""")
  }
}
