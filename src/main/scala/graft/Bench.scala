package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** One arbiter measurement: min + every raw sample + the 1-min load
    * average read at fork time + the JVM GC time spent WHILE the samples
    * ran (-1 when not measured, e.g. a forked child whose GC the parent
    * cannot see). The samples make contamination VISIBLE in the artifact
    * (a clean run is tight around the min; a contaminated one has a long
    * tail); loadavg records CPU-contention ambient and gc_ms records
    * ALLOCATOR-state ambient — the round-14 lesson was that a flat
    * canary plus +16% raw drift was GC state from a preceding test JVM,
    * which loadavg alone cannot adjudicate. */
  final case class ArbiterResult(min: Double, samples: Seq[Double],
                                 loadavg: Double, gcMs: Long = -1L)

  /** 1-minute load average from /proc/loadavg; -1.0 if unreadable. */
  private def loadAvg1m(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Cumulative (collection ms, collection count) across all GC beans —
    * deltas of this pair attribute a run's allocator-state ambient. */
  private def gcStats(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val beans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).filter(_ >= 0).sum,
      beans.map(_.getCollectionCount).filter(_ >= 0).sum)
  }

  /** Heap high-water (MB) summed over heap pools since the last peak
    * reset; [[resetHeapPeaks]] at grid start scopes it to this run. */
  private def heapPeakMb(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
      .sum / (1L << 20)
  }

  private def resetHeapPeaks(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(p => try p.resetPeakUsage() catch { case _: Throwable => () })
  }

  /** Min-of-N for one query in a FRESH JVM: forks `java graft.Bench` in
    * SPARK_GRAFT_ONLY mode (which never forks again — no recursion) with
    * this build's classes dir + the Spark jars, reads the child's sidecar
    * artifact, and returns its single-query min PLUS all raw samples (the
    * child emits `queries_samples` in restricted mode). The child's
    * stdout goes to a log file, NOT the parent's stdout — the driver
    * parses the parent's last {"metric"...} line and must never see the
    * child's restricted artifact line. The log is deleted on success and
    * kept (path printed) on failure. */
  private def forkedMin(name: String, sfDir: String, cpus: Int,
                        samples: Int): Option[ArbiterResult] = {
    import scala.jdk.CollectionConverters._
    val classes = new java.io.File(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getPath
    // jars via SPARK_HOME so a non-/opt layout still forks correctly
    val sparkJars = sys.env.getOrElse("SPARK_HOME", "/opt/spark") + "/jars/*"
    val cp = classes + ":" + sparkJars
    val javaBin = new java.io.File(new java.io.File(System.getProperty("java.home"), "bin"), "java").getPath
    // Spark on JDK 17 needs the module opens; the launcher jar publishes
    // the canonical set so a bare `java` fork matches spark-submit's JVM
    val moduleOpts = org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions()
      .split("\\s+").toSeq.filter(_.nonEmpty)
    val sidecar = java.nio.file.Files.createTempFile("graft-arbiter-", ".json").toFile
    val log = new java.io.File(sidecar.getPath.stripSuffix(".json") + ".log")
    // child heap = parent heap: the arbiter must measure under the SAME
    // JVM config as the grid it adjudicates (and a hard-coded 16g would
    // fail or swap on a smaller host)
    val heapMb = math.max(1024L, Runtime.getRuntime.maxMemory() / (1L << 20))
    val cmd = (Seq(javaBin, s"-Xmx${heapMb}m", "-cp", cp) ++ moduleOpts :+ "graft.Bench").asJava
    val pb = new ProcessBuilder(cmd)
    pb.environment().put("SPARK_GRAFT_ONLY", name)
    pb.environment().put("SPARK_GRAFT_PASSES", samples.toString)
    pb.environment().put("SPARK_GRAFT_HEAVY_PASSES", "0")
    pb.environment().put("SPARK_GRAFT_BENCH_FILE", sidecar.getPath)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
    pb.redirectOutput(log)
    pb.redirectError(log)
    val load = loadAvg1m()
    var ok = false
    try {
      val p = pb.start()
      if (!p.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)) {
        p.destroyForcibly(); System.err.println(s"[bench] arbiter $name: child timed out"); return None
      }
      val body = java.nio.file.Files.readString(sidecar.toPath)
      val q = java.util.regex.Pattern.quote(name)
      val minRe = ("\"queries_min\":\\{\"" + q + "\":([0-9.]+)").r
      val samplesRe = ("\"queries_samples\":\\{\"" + q + "\":\\[([0-9.,]*)\\]").r
      val res = minRe.findFirstMatchIn(body).map { m =>
        val xs = samplesRe.findFirstMatchIn(body)
          .map(_.group(1).split(",").toSeq.filter(_.nonEmpty).map(_.toDouble))
          .getOrElse(Seq.empty)
        ArbiterResult(m.group(1).toDouble, xs, load)
      }
      ok = res.isDefined
      res
    } catch { case e: Throwable =>
      System.err.println(s"[bench] arbiter $name: $e"); None
    } finally {
      sidecar.delete()
      if (ok) { log.delete(); () }
      else System.err.println(s"[bench] arbiter $name: child log kept at ${log.getPath}")
    }
  }

  private def r3(v: Double): String = f"$v%.3f"

  /** `{"name":v,...}` over a sorted (name → seconds) map. */
  private def jmap(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
    .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")

  /** Parse a `"key":{"a":1.0,...}` flat numeric map out of an artifact
    * body (regex-based: artifacts are single machine-written lines). */
  private def parseNumMap(body: String, key: String): Option[Map[String, Double]] =
    ("\"" + key + "\":\\{([^}]*)\\}").r.findFirstMatchIn(body).map { m =>
      m.group(1).split(",").toSeq.flatMap { kv =>
        kv.split(":") match {
          case Array(k, v) => try Some(k.replace("\"", "") -> v.toDouble)
            catch { case _: Throwable => None }
          case _ => None
        }
      }.toMap
    }

  /** Unescape the driver's `{"tail": "..."}` wrapper when the raw
    * artifact form isn't present (round-15 lesson: pointing
    * SPARK_GRAFT_PRIOR_BENCH at a BENCH_r{N}.json silently missed). */
  private def unwrap(body0: String): String =
    if (body0.contains("\"canary\":{")) body0 else body0.replace("\\\"", "\"")

  /** The prior committed artifact's comparison fields. Parsed ONCE at
    * startup: the incremental emit overwrites BENCH_LOCAL.json after the
    * FIRST completed grid pass now, so a post-grid read (the pre-r17
    * placement) would compare this run against itself. */
  final case class Prior(canaryMed: Double, canaryMin: Double,
                         queries: Map[String, Double],
                         queriesMin: Option[Map[String, Double]])

  private def parsePrior(path: String, sfDir: String): Option[Prior] =
    try {
      val body = unwrap(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      // a prior artifact from a DIFFERENT fixture scale is not a
      // comparison baseline — skip rather than report bogus deltas
      val sameSf = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(body)
        .forall(_.group(1) == sfDir)
      val cRe = "\"canary\":\\{\"median\":([0-9.]+),\"min\":([0-9.]+)".r
        .findFirstMatchIn(body)
      if (!sameSf) None
      else for (c <- cRe.map(_.group(1).toDouble); ci <- cRe.map(_.group(2).toDouble);
                q <- parseNumMap(body, "queries"))
        // queries_min stays an OPTION: a pre-r15 prior without it must
        // surface as "no_min_baseline", not masquerade as a genuinely
        // clean regressions:{} (r15 ADVICE)
        yield Prior(c, ci, q, parseNumMap(body, "queries_min"))
    } catch { case _: Throwable => None }

  /** Incremental artifact assembler (r16 verdict #1: the driver's run
    * died rc=124 with `parsed: null` — the artifact was assembled in
    * memory and written ONCE at the very end, so a wall-clock kill
    * destroyed ALL evidence). Fragments land here as each tier
    * completes; every [[write]] emits a COMPLETE parseable JSON line
    * with a `completed_tiers` marker, and the caller installs a
    * shutdown hook that flushes the current state with
    * `"interrupted":true` on SIGTERM (`timeout`'s kill signal). Key
    * order is fixed so a finished artifact is byte-equivalent to the
    * pre-r17 format apart from the new trailing fields. */
  private[graft] final class Artifact(outFile: Option[String],
                                      dynamic: () => Seq[(String, String)]) {
    private val order = Seq("queries", "queries_min", "queries_samples",
      "queries_isolated", "queries_isolated_detail", "scaling",
      "queries_arbiter", "canary", "canary_norm", "jvm", "loadavg_start",
      "loadavg_end", "gc_ms_grid", "gc_count_grid", "gc_ms_total",
      "heap_peak_grid_mb", "errors", "failures", "sf",
      "passes", "heavy_passes", "stable_reduced", "stable_single_pass",
      "loadavg_wait_sec", "budget_sec", "wall_sec", "shed")
    private val frags = scala.collection.mutable.Map[String, String]()
    private val tiers = scala.collection.mutable.ArrayBuffer[String]()
    private val shedL = scala.collection.mutable.ArrayBuffer[String]()
    @volatile private var done = false
    def set(key: String, json: String): Unit = synchronized { frags(key) = json; () }
    /** Record a budget-governor decision (the no-silent-caps rule: what
      * was dropped and why is in the artifact, not just stderr). */
    def shed(reason: String): Unit = synchronized {
      shedL += reason
      frags("shed") = shedL.map("\"" + _ + "\"").mkString("[", ",", "]")
      ()
    }
    def shedReasons: Seq[String] = synchronized { shedL.toSeq }
    def render(interrupted: Boolean): String = synchronized {
      dynamic().foreach { case (k, v) => frags(k) = v }
      val body = order.flatMap(k => frags.get(k).map(v => "\"" + k + "\":" + v))
      val tail = "\"completed_tiers\":[" + tiers.map("\"" + _ + "\"").mkString(",") + "]" +
        (if (interrupted) ",\"interrupted\":true" else "")
      val head = "\"metric\":\"total\",\"value\":" +
        frags.getOrElse("value", "0.000") + ",\"unit\":\"sec\""
      ((head +: body) :+ tail).mkString("{", ",", "}")
    }
    /** The compact line printed last on stdout, for a reader that keeps
      * only a ~2000-character tail: the headline fields and the path of
      * the file holding the full artifact (`null` when none is written). */
    def summary(cpus: Int): String = synchronized {
      dynamic().foreach { case (k, v) => frags(k) = v }
      val path = outFile.fold("null")(f =>
        "\"" + java.nio.file.Paths.get(f).toAbsolutePath + "\"")
      "{\"metric\":\"total\",\"value\":" + frags.getOrElse("value", "0.000") +
        ",\"unit\":\"sec\",\"sf\":" + frags.getOrElse("sf", "null") +
        ",\"cpus\":" + cpus + ",\"failures\":" + frags.getOrElse("failures", "0") +
        ",\"wall_sec\":" + frags.getOrElse("wall_sec", "0.000") + ",\"artifact\":" + path + "}"
    }
    /** Write the current state as a complete artifact line. Never
      * throws (a failing flush must not kill the run or the hook). */
    def write(interrupted: Boolean = false): Unit = {
      val line = render(interrupted)
      outFile.foreach { f =>
        try java.nio.file.Files.writeString(java.nio.file.Paths.get(f), line + "\n")
        catch { case e: Throwable => System.err.println(s"[bench] sidecar write failed: $e") }
      }
    }
    def tierDone(name: String): Unit = {
      // idempotent: a periodic mid-pass flush re-announcing its pass
      // must not grow the marker list
      synchronized { if (!tiers.contains(name)) tiers += name; () }
      write()
    }
    def markDone(): Unit = { done = true }
    def isDone: Boolean = done
  }

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (local iteration aid)
    val only = SparkEntry.onlyNames(SparkEntry.queries.keySet ++ SparkEntry.benchOps.keySet)
    // WALL-CLOCK BUDGET (r16 verdict #2: the instrument grew a tier per
    // round for four rounds and nothing shed load when the driver's
    // clock ran out — rc=124, zero evidence). When the remaining budget
    // cannot fit the next tier, tiers shed in the documented order
    // (heavy passes → isolated detail tier → scaling probes → recheck
    // cap) and every decision
    // is recorded in the artifact's `shed` list. The default 2850 s
    // keeps a full run under the driver's observed ceiling (r15's run
    // used 2928 s and passed; r16's was killed) while leaving room for
    // the full tier set — the r17 calibration run at 2700 s shed heavy
    // passes + the isolated tier and still exited with 780 s unused
    // (the median-based heavy estimate, since fixed, ran 2-3x high).
    // Restricted runs are unbudgeted iteration aids.
    val budgetSec: Double = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC").map(_.toDouble)
      .getOrElse(if (only.isDefined) Double.MaxValue else 2850.0)
    def remainingSec: Double = budgetSec - elapsedSec
    def newSession(): SparkSession = {
      val s = GraftSession(cpus)
      // Warm the session (codegen, parquet footer cache, executor threads) so
      // the first measured query doesn't absorb JVM/session startup.
      try s.read.parquet(s"$sfDir/lineitem.parquet").count()
      catch { case _: Throwable => () }
      s
    }
    // PRIOR ARTIFACT parsed BEFORE the first incremental emit can
    // overwrite it (BENCH_LOCAL.json is both the default prior and the
    // default output). Override: SPARK_GRAFT_PRIOR_BENCH.
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_PRIOR_BENCH", "BENCH_LOCAL.json")
    val prior: Option[Prior] = parsePrior(priorPath, sfDir)
    var spark = newSession()
    // JVM-config stamp (round-15 verdict #5: two same-code runs reported
    // heap peaks of 6,575 vs 30,706 MB and the artifact could not say
    // whether the JVMs differed) — max heap, GC algorithm, Java version
    // and the thread count the session was built with, read once up
    // front so every cross-run comparison can first check the configs
    // match.
    val jvmJson: String = {
      import scala.jdk.CollectionConverters._
      val gcAlgos = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+")
      "{\"max_heap_mb\":" + (Runtime.getRuntime.maxMemory() / (1L << 20)) +
        ",\"gc\":\"" + gcAlgos.replace("\"", "") + "\"" +
        ",\"java\":\"" + String.valueOf(System.getProperty("java.version")).replace("\"", "") + "\"" +
        ",\"cpus\":" + cpus + "}"
    }
    // bench-only operator rows (train/serve attribution splits) ride the
    // same grid as the queries: same passes, median/min, error marking
    val opRows: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      SparkEntry.benchOps.map { case (n, op) =>
        n -> ((s: SparkSession, d: String) => { op(s, d); s.range(1).toDF() })
      }
    val all = SparkEntry.queries ++ opRows
    val selected = only.fold(all)(ns => all.filter(kv => ns.contains(kv._1)))
    // warm the serve row's model cache UNTIMED so every ivf_pq_serve
    // sample measures serve alone (the point of the split)
    if (selected.contains("ivf_pq_serve"))
      try SparkEntry.benchOps("ivf_pq_train")(spark, sfDir)
      catch { case e: Throwable => System.err.println(s"[bench] serve warmup failed: $e") }
    if (selected.contains("quality_lr_score"))
      try SparkEntry.benchOps("quality_lr_train")(spark, sfDir)
      catch { case e: Throwable => System.err.println(s"[bench] lr warmup failed: $e") }
    // Per-query timeout: one pathological query must not stall the whole
    // round artifact. Cancellation is cooperative (Spark jobs are
    // interruptible at task boundaries); the timed-out query records its
    // elapsed wall time and the grid moves on.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "300").toLong
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // A failed query must surface as an ERROR ROW in the artifact, never as
    // a plausible-looking elapsed-to-exception timing: round 7 shipped 24
    // broken events queries as fake 0.06 s "speedups" because the old
    // catch-all here recorded wall time regardless. Left = error marker
    // (exception class), Right = seconds.
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Either[String, Double] = {
      val sess = spark // pin: the isolated pass swaps the session var
      val t0 = System.nanoTime()
      // job group must be set on the thread that SUBMITS the jobs (it is
      // thread-local) — i.e. inside the Future — while the cancel-by-name
      // from the main thread reaches it cross-thread
      val work = Future {
        sess.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        try { fn(sess, sfDir).count(); () }
        finally sess.sparkContext.clearJobGroup()
      }
      try { Await.result(work, timeoutSec.seconds); Right((System.nanoTime() - t0) / 1e9) }
      catch {
        case _: java.util.concurrent.TimeoutException =>
          sess.sparkContext.cancelJobGroup(name)
          System.err.println(s"[bench] ERROR $name: timeout after ${timeoutSec}s")
          Left(s"Timeout${timeoutSec}s")
        case e: Throwable =>
          val root = { var t: Throwable = e; while (t.getCause != null && t.getCause != t) t = t.getCause; t }
          System.err.println(s"[bench] ERROR $name: ${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(200)}")
          Left(root.getClass.getSimpleName)
      }
    }
    // EVERY query gets median-of-N (default 3) across full interleaved
    // passes of the grid: host contention here is bursty (a slow sample on
    // untouched code varied 4x round-over-round), and a per-query median
    // across passes separated in time erases exactly that noise. Passes
    // are interleaved (pass over all queries, then again) rather than 3x
    // back-to-back per query, so a contention burst cannot poison all
    // samples of one query.
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt)
    val names = selected.toSeq.sortBy(_._1).map(_._1)
    // STABLE-ROW PASS REDUCTION (r16 verdict #2): a row whose min was
    // flat (<10% spread) across the last 3 full runs at this sf gets 2
    // base passes instead of 3 — its min is already established and the
    // third sample buys nothing (saves ~100 s of grid at r16's board).
    // History: BENCH_MINS_HISTORY.jsonl, one {"sf":...,"queries_min":
    // {...}} line per full run, appended below (seeded r14–r16 from the
    // committed artifacts). The reduction count is in the artifact.
    val minsHistoryPath = sys.env.getOrElse("SPARK_GRAFT_MINS_HISTORY", "BENCH_MINS_HISTORY.jsonl")
    // r18: history lines now carry the core count and the detector only
    // reads lines from the SAME cpus (the r17 driver appended an 8-core
    // run to a 32-core history and the mixed mins poisoned the spread
    // test). Legacy lines without "cpus" still match — they predate the
    // tag and were all same-machine full runs.
    val (stableRows: Set[String], stableHistMin: Map[String, Double]) =
      if (only.isDefined || passes < 3) (Set.empty[String], Map.empty[String, Double])
      else try {
        import scala.jdk.CollectionConverters._
        val hist = java.nio.file.Files
          .readAllLines(java.nio.file.Paths.get(minsHistoryPath)).asScala.toSeq
          .filter(_.contains("\"sf\":\"" + sfDir + "\""))
          .filter(l => !l.contains("\"cpus\":") || l.contains("\"cpus\":" + cpus + ","))
          .flatMap(parseNumMap(_, "queries_min"))
          .takeRight(3)
        if (hist.size < 3) (Set.empty[String], Map.empty[String, Double])
        else {
          val stable = names.filter { n =>
            val vs = hist.flatMap(_.get(n))
            vs.size == 3 && vs.min > 0.0 && vs.max / vs.min <= 1.10
          }.toSet
          (stable, stable.iterator.map(n => n -> hist.flatMap(_.get(n)).min).toMap)
        }
      } catch { case _: Throwable => (Set.empty[String], Map.empty[String, Double]) }
    // r17 verdict #2: the 384-row × 3-pass grid is the budget's cost
    // driver — widen the stable-row reduction to SINGLE-pass for small
    // stable rows. Rows >= 2 s keep two samples (one cold sample would
    // carry a visible absolute codegen/planning penalty into their
    // headline); sub-2 s flat rows have their min established by three
    // prior runs and the recheck tier re-adjudicates any flag.
    val singlePassRows: Set[String] =
      stableRows.filter(n => stableHistMin.getOrElse(n, 2.0) < 2.0)
    // AMBIENT-DRIFT CANARY (round-12 verdict missing #2): a fixed-work
    // CPU+shuffle row — independent of sf and of every operator under
    // test — timed once at the head of each interleaved pass. Cross-round
    // in-grid comparison divides by the canary median to separate ambient
    // machine drift (r12's uniform +18.5% on untouched code) from real
    // regressions; loadavg at grid start/end records the state the board
    // ran under. ~20M-row range → modulo-keyed shuffle agg: all CPU +
    // shuffle machinery, no disk, no fixture dependence.
    def canaryOnce(): Double = {
      val s = spark
      val t0 = System.nanoTime()
      s.range(0L, 20000000L, 1L, cpus)
        .selectExpr("id % 9973 AS k")
        .groupBy("k").count().count()
      (System.nanoTime() - t0) / 1e9
    }
    val canarySamples = scala.collection.mutable.ArrayBuffer[Double]()
    // LOAD GUARD (r17 verdict #3: the driver's 32-core run started at
    // loadavg 4.3 and poisoned 109 candidate rows). A loaded machine at
    // grid start is the single cheapest thing to avoid: wait, bounded, for
    // the 1-minute load to fall below the threshold before the first
    // timed pass. Never refuses — a late clean grid beats no grid — and
    // the wait (if any) is recorded in the artifact.
    var loadWaitSec = 0.0
    if (only.isEmpty) {
      val loadBar = sys.env.getOrElse("SPARK_GRAFT_LOADAVG_BAR", "2.0").toDouble
      val waitCap = sys.env.getOrElse("SPARK_GRAFT_LOADAVG_WAIT_SEC", "150").toDouble
      val t0 = System.nanoTime()
      var waited = 0.0
      while (loadAvg1m() > loadBar && waited < waitCap) {
        System.err.println(f"[bench] loadavg ${loadAvg1m()}%.2f > $loadBar%.1f — waiting for a quiet machine")
        Thread.sleep(15000)
        waited = (System.nanoTime() - t0) / 1e9
      }
      loadWaitSec = waited
    }
    val loadStart = loadAvg1m()
    // allocator-state evidence (round-14 verdict #2): GC totals and the
    // heap high-water scoped to this run make a +15% raw-total drift
    // with a flat canary attributable from the artifact alone
    val (gcMsStart, gcCntStart) = gcStats()
    resetHeapPeaks()
    def med(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
    def jerr(m: scala.collection.Map[String, String]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    // the artifact ALSO lands in a file: the driver's stdout tail capture
    // once truncated a round's bench line (BENCH_r02) — a sidecar file
    // makes the full per-query map always recoverable. A SPARK_GRAFT_ONLY
    // iteration run must NOT clobber the full board with a few-row
    // artifact (it did once: the committed BENCH_LOCAL briefly held a
    // single smoke row) — restricted runs write only when a file is
    // explicitly named.
    val outFile = sys.env.get("SPARK_GRAFT_BENCH_FILE")
      .orElse(if (only.isDefined) None else Some("BENCH_LOCAL.json"))
    val artifact = new Artifact(outFile, () => Seq(
      "loadavg_end" -> r3(loadAvg1m()),
      "gc_ms_total" -> (gcStats()._1 - gcMsStart).toString,
      "wall_sec" -> r3(elapsedSec)))
    artifact.set("jvm", jvmJson)
    artifact.set("loadavg_start", r3(loadStart))
    if (loadWaitSec > 0) artifact.set("loadavg_wait_sec", r3(loadWaitSec))
    artifact.set("errors", "{}")
    artifact.set("failures", "0")
    artifact.set("sf", "\"" + sfDir + "\"")
    artifact.set("passes", passes.toString)
    if (budgetSec != Double.MaxValue) artifact.set("budget_sec", r3(budgetSec))
    if (stableRows.nonEmpty) artifact.set("stable_reduced", stableRows.size.toString)
    if (singlePassRows.nonEmpty)
      artifact.set("stable_single_pass", singlePassRows.size.toString)
    // SIGTERM flush (r16 verdict #1): `timeout` sends SIGTERM, which
    // runs JVM shutdown hooks — whatever tiers completed are already in
    // the file, and this re-write stamps `interrupted` so a partial
    // artifact can never masquerade as a finished run. SIGKILL cannot
    // be caught by anything; the per-tier writes are the defense there.
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      if (!artifact.isDone) {
        artifact.write(interrupted = true)
        System.err.println(s"[bench] interrupted at ${r3(elapsedSec)}s — partial artifact flushed")
      }))
    // First error pins the query as failed; later passes skip it (it would
    // fail identically and waste grid time) and it reports in `errors`.
    val errors = scala.collection.mutable.Map[String, String]()
    def sample(n: String): Option[Double] =
      if (errors.contains(n)) None
      else timeOne(n, selected(n)) match {
        case Right(sec) => Some(sec)
        case Left(err)  => errors(n) = err; None
      }
    // Per-pass flush: the grid is the longest tier (a mid-grid SIGTERM
    // is the most likely interrupt), so provisional queries/min land in
    // the file after EVERY pass, not only at grid end.
    def flushGrid(samplesSoFar: Seq[Map[String, Double]], passLabel: String): Unit = {
      val ok = names.filterNot(errors.contains)
      val byN = ok.map(n => n -> samplesSoFar.flatMap(_.get(n))).filter(_._2.nonEmpty)
      artifact.set("queries", jmap(byN.map { case (n, xs) => n -> med(xs) }.toMap))
      artifact.set("queries_min", jmap(byN.map { case (n, xs) => n -> xs.min }.toMap))
      artifact.set("value", r3(byN.map { case (_, xs) => med(xs) }.sum))
      artifact.set("errors", jerr(errors))
      artifact.set("failures", errors.size.toString)
      if (canarySamples.nonEmpty)
        artifact.set("canary", "{\"median\":" + r3(med(canarySamples.toSeq)) +
          ",\"min\":" + r3(canarySamples.min) +
          ",\"samples\":[" + canarySamples.map(r3).mkString(",") + "]}")
      artifact.tierDone(passLabel)
    }
    val gridBuf = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    (1 to passes).foreach { p =>
      System.err.println(s"[bench] pass $p/$passes")
      try canarySamples += canaryOnce()
      catch { case e: Throwable => System.err.println(s"[bench] canary failed: $e") }
      // stable rows sit out every pass past the second; small stable
      // rows (<2 s history min) sit out everything past the first
      val passNames =
        if (p > 2) names.filterNot(stableRows)
        else if (p > 1) names.filterNot(singlePassRows)
        else names
      // mid-pass periodic flush: a pass at sf0.1 runs minutes, and a
      // kill early in pass 1 would otherwise still lose every min
      // measured so far (the per-pass flush alone leaves the B
      // truncation experiment's artifact empty at small budgets)
      val acc = scala.collection.mutable.Map[String, Double]()
      var lastFlush = System.nanoTime()
      passNames.foreach { n =>
        sample(n).foreach(v => acc(n) = v)
        if ((System.nanoTime() - lastFlush) / 1e9 > 90.0) {
          flushGrid(gridBuf.toSeq :+ acc.toMap, s"grid_pass${p}_partial")
          lastFlush = System.nanoTime()
        }
      }
      gridBuf += acc.toMap
      flushGrid(gridBuf.toSeq, s"grid_pass$p")
    }
    val baseSamples: Seq[Map[String, Double]] = gridBuf.toSeq
    // Round-over-round calibration on BYTE-IDENTICAL code showed the
    // shuffle-heavy entries still move ±40-80% under median-of-3 (e.g.
    // 3.12→5.54 s with zero diff) — 3 samples is not enough where one
    // burst can own a third of them. Queries whose provisional median is
    // ≥ 1 s (the ones regression claims are made about) get extra
    // interleaved passes (default 2 → 5 samples); the final line reports
    // BOTH the median and the min per query. The min is the
    // contention-free estimate — identical code agrees on it far inside
    // the median's noise floor — so regressions are attributed against
    // min, while median stays the comparable headline.
    val okNames = names.filterNot(errors.contains)
    val provisional = okNames.map(n => n -> med(baseSamples.flatMap(_.get(n)))).toMap
    // stable rows don't take heavy passes: their min is already
    // established across rounds, which is the whole point of the
    // reduction (r17 calibration: the first stable-reduced run handed
    // 2 extra passes right back to the stable heavy rows)
    val heavy = okNames.filter(provisional(_) >= 1.0).filterNot(stableRows)
    var heavyPasses = math.max(0, sys.env.getOrElse("SPARK_GRAFT_HEAVY_PASSES", "2").toInt)
    artifact.set("heavy_passes", heavyPasses.toString)
    // --- budget estimates for everything still ahead (grid mins are the
    // best per-tier predictors available in-run; the constants cover
    // session/fork/quiesce overhead and err high on purpose — a shed
    // tier is recoverable from the shed record, a killed run is not) ---
    val isolatedPasses = math.max(1, sys.env.getOrElse("SPARK_GRAFT_ISOLATED_PASSES", "3").toInt)
    def curMinOf(n: String): Double = gridBuf.toSeq.flatMap(_.get(n)) match {
      case xs if xs.nonEmpty => xs.min
      case _ => 1.0
    }
    val scalingQueries = Seq("q_jaccard_join", "q_triangle_count", "q_hits", "q_louvain")
    def isolatedCandidates: Seq[String] =
      (okNames.filter(n => curMinOf(n) >= 2.0) ++
        Seq("ivf_pq_serve").filter(okNames.contains)).distinct.sorted
    // min-based: a warm re-run of a query costs about its min, not its
    // contended median (r17 calibration: the median-based estimate ran
    // 2-3x high and shed heavy passes with 780s still unused at exit)
    def estHeavy: Double = heavyPasses * 1.15 * heavy.map(curMinOf).sum
    def estIsolated: Double =
      12.0 + isolatedCandidates.map(n => curMinOf(n) * isolatedPasses + 4.0).sum
    def estScaling: Double =
      10.0 + scalingQueries.filter(okNames.contains)
        .map(n => curMinOf(n) * isolatedPasses * 1.35).sum
    val estArbiter = 120.0
    val estRecheckNominal = 60.0
    val reserve = 60.0
    val skipIso = sys.env.contains("SPARK_GRAFT_SKIP_ISOLATED")
    var shedIsolated = false
    var shedScaling = false
    def estAfterGrid: Double =
      estRecheckNominal +
        (if (skipIso || shedIsolated) 0 else estIsolated) +
        (if (skipIso || shedScaling) 0 else estScaling) +
        (if (skipIso) 0 else estArbiter) + reserve
    // shed order (r16 verdict #2): heavy passes first
    if (only.isEmpty && heavyPasses > 0 && remainingSec < estHeavy + estAfterGrid) {
      System.err.println(f"[bench] budget: shedding heavy passes (est ${estHeavy}%.0fs, remaining ${remainingSec}%.0fs)")
      artifact.shed(s"heavy_passes:$heavyPasses")
      heavyPasses = 0
      artifact.set("heavy_passes", "0")
    }
    val heavySamples: Seq[Map[String, Double]] = (1 to heavyPasses).map { p =>
      System.err.println(s"[bench] heavy pass $p/$heavyPasses (${heavy.size} queries)")
      val m = heavy.flatMap(n => sample(n).map(n -> _)).toMap
      gridBuf += m
      flushGrid(gridBuf.toSeq, s"heavy_pass$p")
      m
    }
    val (gcMsGridEnd, gcCntGridEnd) = gcStats()
    artifact.set("gc_ms_grid", (gcMsGridEnd - gcMsStart).toString)
    artifact.set("gc_count_grid", (gcCntGridEnd - gcCntStart).toString)
    artifact.set("heap_peak_grid_mb", heapPeakMb().toString)
    val finalOk = names.filterNot(errors.contains)
    val allSamples: Map[String, Seq[Double]] = finalOk.map { n =>
      n -> (baseSamples.flatMap(_.get(n)) ++ heavySamples.flatMap(_.get(n)))
    }.toMap
    // A stable row's samples are {cold pass-1, pass-2}: a plain median
    // would weight the cold sample 50% (vs ~1/3 or ~1/5 for full rows)
    // and inflate the headline total for no information (r17: +40% on
    // `value` with mins flat). The cold sample is dropped from the
    // MEDIAN only — the min still sees every sample.
    val results: Map[String, Double] = finalOk.map { n =>
      val xs = allSamples(n)
      n -> med(if (stableRows(n) && xs.size >= 2) xs.drop(1) else xs)
    }.toMap
    val mins: Map[String, Double] = finalOk.map(n => n -> allSamples(n).min).toMap
    // Raw per-query samples, emitted ONLY in restricted mode: the arbiter
    // parent reads them from its child's sidecar so contamination is
    // visible (all 5 samples, not just the min). A full 300-row grid would
    // bloat the artifact line ~4x for no reader, so full runs skip it.
    if (only.isDefined)
      artifact.set("queries_samples", finalOk.sorted.map { n =>
        "\"" + n + "\":[" + allSamples(n).map(r3).mkString(",") + "]"
      }.mkString("{", ",", "}"))
    val total = if (results.nonEmpty) results.values.sum else 0.0
    artifact.set("queries", jmap(results))
    artifact.set("queries_min", jmap(mins))
    artifact.set("value", r3(total))
    artifact.set("errors", jerr(errors))
    artifact.set("failures", errors.size.toString)
    artifact.tierDone("grid")
    // NOTE (r16): the regression RECHECK runs HERE — immediately after
    // the grid, in the same session state that produced the grid mins —
    // because a recheck delayed past the isolated/arbiter teardown
    // executes in a dirtier JVM than the grid and can never clear an
    // ambient flag (r16 measured recheck samples uniformly ABOVE the
    // grid mins when run post-arbiter). The CONFIRMATION, however, is
    // now deferred: the final verdict joins min evidence across grid,
    // recheck, AND the isolated tier (r16 verdict #3: q_louvain_l2's
    // flag was refuted by the isolated tier IN THE SAME ARTIFACT —
    // contention only ever inflates, so the smallest observation
    // anywhere is the closest to truth).
    final case class RecheckRow(name: String, curMin: Double, prevMin: Double,
                                again: Seq[Double])
    var candidatesAll: Seq[(String, Double, Double)] = Nil
    var recheckRows: Seq[RecheckRow] = Nil
    var recheckCapUsed = 24
    var recheckWallSec = -1.0
    // CANARY-NORMALIZED cross-round read, in-artifact (round-13 verdict
    // item 7): divide the in-grid total by this run's canary median,
    // compare against the SAME ratio from the prior committed artifact,
    // and ship the answer to "ambient drift or regression?" directly.
    // `regressions` is keyed on MIN-of-N, not medians (round-14 verdict
    // #3: all four r14 "regressions" were median noise with mins at or
    // below r13): a query fires only when its canary-normalized min
    // moved >1.25x above the 0.5 s floor AND no cleaner evidence
    // (recheck or isolated sample) clears it; a clean round emits
    // regressions: {}. The NORMALIZATION BASIS is the canary MEDIAN on
    // both sides — a first r15 run normalized by the canary MIN and one
    // lucky 3-sample canary uniformly inflated every ratio 1.75x into
    // 160 bogus flags.
    def renderCanaryNorm(isoMins: Map[String, Double]): Option[String] =
      if (only.isDefined || canarySamples.isEmpty) None
      else {
        val canaryMed = med(canarySamples.toSeq)
        val normTotal = total / canaryMed
        val priorPart = prior.fold("") { p =>
          val priorNormTotal = p.queries.valuesIterator.sum / p.canaryMed
          val regsJson = p.queriesMin match {
            case None =>
              ",\"regressions\":null,\"no_min_baseline\":true"
            // Canary-normalized cross-run ratios assume ambient scales
            // the canary and the queries UNIFORMLY; when the two runs'
            // canary medians differ by more than 2x the machine states
            // are not comparable through one scalar — say so instead of
            // emitting bogus flags.
            case Some(_) if canaryMed / p.canaryMed > 2.0 || canaryMed / p.canaryMed < 0.5 =>
              ",\"regressions\":null,\"canary_mismatch\":true" +
                ",\"canary_ratio\":" + r3(canaryMed / p.canaryMed)
            case Some(_) =>
              val candJson = candidatesAll.map { case (n, c, pv) =>
                "\"" + n + "\":" + r3((c / canaryMed) / (pv / p.canaryMed)) }.mkString("{", ",", "}")
              val joined = recheckRows.map { r =>
                val iso = isoMins.get(r.name)
                val evidenceMin = (r.curMin +: (r.again ++ iso.toSeq)).min
                val ratio = (evidenceMin / canaryMed) / (r.prevMin / p.canaryMed)
                (r, iso, evidenceMin, ratio)
              }
              val recheckJson = joined.map { case (r, iso, ev, ratio) =>
                "\"" + r.name + "\":{\"samples\":[" + r.again.map(r3).mkString(",") +
                  "]" + iso.fold("")(v => ",\"isolated_min\":" + r3(v)) +
                  ",\"evidence_min\":" + r3(ev) + ",\"ratio\":" + r3(ratio) + "}"
              }.mkString("{", ",", "}")
              val confirmed = joined.filter(_._4 > 1.25)
              ",\"regression_candidates\":" + candJson +
                (if (recheckRows.nonEmpty) ",\"regression_recheck\":" + recheckJson else "") +
                (if (candidatesAll.size > recheckCapUsed)
                  ",\"regression_candidates_unchecked\":" + (candidatesAll.size - recheckCapUsed) else "") +
                (if (recheckWallSec >= 0) ",\"recheck_wall_sec\":" + r3(recheckWallSec) else "") +
                ",\"regressions\":" + confirmed.map { case (r, _, _, ratio) =>
                  "\"" + r.name + "\":" + r3(ratio) }.mkString("{", ",", "}")
          }
          ",\"prior_total_over_canary\":" + r3(priorNormTotal) +
            ",\"normalized_total_ratio\":" + r3(normTotal / priorNormTotal) +
            regsJson
        }
        Some("{\"total_over_canary\":" + r3(normTotal) + priorPart + "}")
      }
    if (only.isEmpty && canarySamples.nonEmpty) {
      val canaryMed = med(canarySamples.toSeq)
      prior.foreach { p =>
        p.queriesMin.foreach { pqMin =>
          if (canaryMed / p.canaryMed <= 2.0 && canaryMed / p.canaryMed >= 0.5) {
            candidatesAll = mins.toSeq.flatMap { case (n, curMin) =>
              pqMin.get(n).collect {
                case prevMin if curMin >= 0.5 && prevMin > 0.0 && p.canaryMin > 0.0 &&
                  (curMin / canaryMed) / (prevMin / p.canaryMed) > 1.25 =>
                  (n, curMin, prevMin)
              }
            }.sortBy { case (_, c, pv) => -(c / canaryMed) / (pv / p.canaryMed) }
            // CONFIRM before flagging (round-15 verdict #3: two same-code
            // runs flagged 9 and 7 DISJOINT untouched rows — grid-phase
            // contention, not regressions): re-run each candidate
            // standalone after a gc + quiesce. Recheck capped (a
            // normalization accident once produced 160 bogus candidates);
            // the uncheckable tail is reported as candidates, never as
            // confirmed regressions. Budget: the cap shrinks to fit the
            // remaining wall clock (shed order: isolated and scaling go
            // first — their shed flags are set here and honored below).
            var cap = 24
            if (budgetSec != Double.MaxValue) {
              def estRecheck(k: Int): Double =
                candidatesAll.take(k).map { case (_, c, _) => 2.0 + 2.0 * c }.sum
              def needBeyondRecheck: Double =
                (if (skipIso || shedIsolated) 0 else estIsolated) +
                  (if (skipIso || shedScaling) 0 else estScaling) +
                  (if (skipIso) 0 else estArbiter) + reserve
              if (remainingSec < estRecheck(cap) + needBeyondRecheck && !skipIso && !shedIsolated) {
                shedIsolated = true; artifact.shed("isolated_tier")
                System.err.println("[bench] budget: shedding isolated tier")
              }
              if (remainingSec < estRecheck(cap) + needBeyondRecheck && !skipIso && !shedScaling) {
                shedScaling = true; artifact.shed("scaling")
                System.err.println("[bench] budget: shedding scaling probes")
              }
              // The cap never drops below 8: ~30 s of standalone re-runs
              // is always affordable relative to a wrong regression verdict.
              while (cap > 8 && remainingSec < estRecheck(cap) + needBeyondRecheck) cap -= 1
              if (cap < 24 && candidatesAll.size > cap) {
                artifact.shed(s"recheck_cap:$cap")
                System.err.println(s"[bench] budget: recheck cap reduced to $cap")
              }
            }
            recheckCapUsed = cap
            val toCheck = candidatesAll.take(cap)
            if (candidatesAll.nonEmpty)
              System.err.println(s"[bench] rechecking ${toCheck.size}/${candidatesAll.size} regression candidates standalone")
            val tRecheck0 = System.nanoTime()
            recheckRows = toCheck.map { case (n, curMin, prevMin) =>
              System.gc(); Thread.sleep(2000)
              val again = (1 to 2).flatMap(_ => timeOne(s"$n@recheck", selected(n)).toOption)
              RecheckRow(n, curMin, prevMin, again)
            }
            if (toCheck.nonEmpty)
              recheckWallSec = (System.nanoTime() - tRecheck0) / 1e9
          }
        }
      }
      renderCanaryNorm(Map.empty).foreach(artifact.set("canary_norm", _))
      artifact.tierDone("recheck")
    }
    // ISOLATED re-measure of the heavy tier (round-10 verdict item 1): the
    // in-grid numbers for rows >= ~2 s drift +40-80% under ambient
    // contention and long-grid JVM heap pressure, a band wide enough to
    // swallow any real <=30% regression. After the grid, tear the session
    // down, quiesce the JVM, and re-run each heavy row alone in a fresh
    // session — `queries_isolated` is the contention-free per-round number
    // regressions are attributed against; `queries`/`queries_min` stay the
    // comparable in-grid headline. Skipped in SPARK_GRAFT_ONLY iteration
    // mode (that mode IS an isolated run).
    val isolatedNames: Seq[String] =
      if (only.isDefined || skipIso || shedIsolated) Seq.empty
      else (finalOk.filter(n => mins.getOrElse(n, 0.0) >= 2.0) ++
        Seq("ivf_pq_serve").filter(finalOk.contains)).distinct.sorted
    // Scaling attribution (round-10 verdict item 7): time the headline
    // candidate-volume operators at two fixture scales 10x apart and
    // record the observed cost exponent log10(t_big/t_small) — ~1 =
    // linear, 2 = all-pairs. Converts the "plans are scale-safe" claim
    // into a per-round measured number (read via RUNBOOK.md). Probes:
    // the candidate-volume headline (PPJoin), the wedge-bounded graph
    // headline (Θ(Σ outdeg²)), the iterative-graph headline (HITS ~
    // iters × |E|), and the board's heaviest row (q_louvain — a drift
    // toward 2 would mean the sweep degenerated to pairwise work).
    // Gated on the FIXTURES, not on the isolated tier being non-empty.
    val scalingDirs: Option[(String, String)] = {
      val parent = new java.io.File(sfDir).getParentFile
      val small = new java.io.File(parent, "sf0.01")
      val big = new java.io.File(parent, "sf0.1")
      if (only.isEmpty && !skipIso && !shedScaling &&
          small.isDirectory && big.isDirectory)
        Some((small.toString, big.toString))
      else None
    }
    // {min, samples[], loadavg} — the arbiter's record shape, reused by
    // the isolated tier so both carry their full evidence in-artifact
    def jdetail(m: Map[String, ArbiterResult], extra: ArbiterResult => String = _ => ""): String =
      m.toSeq.sortBy(_._1).map { case (n, r) =>
        "\"" + n + "\":{\"min\":" + r3(r.min) +
          ",\"samples\":[" + r.samples.map(r3).mkString(",") + "]" +
          ",\"loadavg\":" + r3(r.loadavg) +
          (if (r.gcMs >= 0) ",\"gc_ms\":" + r.gcMs else "") + extra(r) + "}"
      }.mkString("{", ",", "}")
    if (isolatedNames.nonEmpty || scalingDirs.isDefined) {
      System.err.println(s"[bench] isolated pass (${isolatedNames.size} queries, $isolatedPasses samples)")
      spark.stop()
      System.gc()
      Thread.sleep(10000)
      spark = newSession()
      // serve rows measure serve alone: re-warm the model caches untimed
      // in the fresh session (models are driver-side arrays, but the
      // first call would otherwise absorb training)
      if (isolatedNames.contains("ivf_pq_serve"))
        try SparkEntry.benchOps("ivf_pq_train")(spark, sfDir)
        catch { case e: Throwable => System.err.println(s"[bench] isolated serve warmup failed: $e") }
      if (isolatedNames.contains("quality_lr_score"))
        try SparkEntry.benchOps("quality_lr_train")(spark, sfDir)
        catch { case e: Throwable => System.err.println(s"[bench] isolated lr warmup failed: $e") }
      // The tier below the arbiter gets the arbiter's discipline
      // (round-13 verdict item 2): gc + a short quiesce BETWEEN queries
      // so one query's heap/page-cache residue can't poison the next, a
      // per-query loadavg at sample time, and ALL samples in the
      // artifact — a single bad pass is visible, not the record.
      val isoDetail: Map[String, ArbiterResult] = isolatedNames.flatMap { n =>
        System.gc()
        Thread.sleep(3000)
        val load = loadAvg1m()
        val (gcBefore, _) = gcStats()
        val samples = (1 to isolatedPasses).flatMap(_ => timeOne(n, all(n)).toOption)
        val gcDelta = gcStats()._1 - gcBefore
        if (samples.isEmpty) None
        else Some(n -> ArbiterResult(samples.min, samples, load, gcDelta))
      }.toMap
      val iso: Map[String, Double] = isoDetail.map { case (n, r) => n -> r.min }
      if (iso.nonEmpty) {
        artifact.set("queries_isolated", jmap(iso))
        artifact.set("queries_isolated_detail", jdetail(isoDetail))
        // the isolated-evidence join (r16 verdict #3): re-render the
        // regression verdict with the isolated mins in the evidence set
        renderCanaryNorm(iso).foreach(artifact.set("canary_norm", _))
      }
      // a shed isolated tier must not leave an "isolated" completion
      // marker next to its own shed record (r17: the first governed run
      // did exactly that — scaling shared the block)
      if (isolatedNames.nonEmpty) artifact.tierDone("isolated")
      // min-of-N at BOTH fixture scales, ALL samples in-artifact
      // (round-14 verdict #6: the sf0.01 denominator was effectively
      // single-sample under contention and made exponents wander
      // 0.62→0.82 on identical code)
      val scal = scalingDirs.flatMap { case (small, big) =>
        def samplesAt(name: String, dir: String): Seq[Double] = {
          val fn = (ss: SparkSession, _: String) => SparkEntry.queries(name)(ss, dir)
          (1 to isolatedPasses).flatMap(_ => timeOne(s"$name@$dir", fn).toOption)
        }
        val entries = scalingQueries.flatMap { name =>
          val xs = samplesAt(name, small)
          val xb = samplesAt(name, big)
          if (xs.isEmpty || xb.isEmpty) None
          else {
            val ts = xs.min; val tb = xb.min
            val exp = math.log10(tb / ts) // fixtures are 10x apart
            Some(s""""$name":{"sf0.01_sec":${r3(ts)},"sf0.01_samples":[${xs.map(r3).mkString(",")}],""" +
              s""""sf0.1_sec":${r3(tb)},"sf0.1_samples":[${xb.map(r3).mkString(",")}],"exponent":${r3(exp)}}""")
          }
        }
        if (entries.isEmpty) None else Some(entries.mkString("{", ",", "}"))
      }
      scal.foreach { s => artifact.set("scaling", s); artifact.tierDone("scaling") }
    }
    // FRESH-PROCESS ARBITER (round-11 verdict item 2): ivf_pq_serve's
    // isolated min swung 2.2-4.8 s across rounds on byte-identical ANN
    // code — even the end-of-grid fresh SESSION carries residue (heap
    // shape, JIT state, page cache) from a 50-minute grid. Every full
    // run forks a clean JVM per arbiter query (min-of-5, own warmup,
    // nothing before it) and the JSON carries `queries_arbiter` — the
    // number regressions on the serve row are adjudicated against.
    // Skipped in restricted runs (they already ARE fresh-process
    // one-query measurements). The arbiter is NEVER shed: it is the
    // trust anchor the rest of the artifact is judged against.
    val arbiterNames: Seq[String] =
      if (only.isDefined || skipIso) Seq.empty
      else sys.env.getOrElse("SPARK_GRAFT_ARBITER", "ivf_pq_serve")
        .split(",").toSeq.filter(finalOk.contains)
    // Bar the arbiter adjudicates against (round-12 verdict item 1): when
    // the fresh-process min still exceeds it, the artifact says so in a
    // machine-readable flag instead of leaving the contradiction for a
    // judge rerun to discover.
    val arbiterBar = sys.env.getOrElse("SPARK_GRAFT_ARBITER_BAR", "3.5").toDouble
    if (arbiterNames.nonEmpty) {
      spark.stop() // the child gets the whole machine
      // Quiesce BEFORE the fork (round-12 verdict item 1): the fork
      // launches seconds after a long grid's JVM releases the machine —
      // parent heap residency, page-cache churn and scheduler state
      // contaminated r12's recorded 10.2 s (vs 2.6-3.0 s quiet).
      System.gc()
      Thread.sleep(10000)
      val iso: Map[String, ArbiterResult] = arbiterNames.flatMap { n =>
        forkedMin(n, sfDir, cpus, samples = 5) match {
          case Some(res) => Some(n -> res)
          case None => System.err.println(s"[bench] arbiter $n: fork failed (see stderr)"); None
        }
      }.toMap
      spark = newSession() // anything after (nothing today) gets a live session back
      if (iso.nonEmpty)
        artifact.set("queries_arbiter", jdetail(iso, r =>
          ",\"bar\":" + r3(arbiterBar) +
            (if (r.min > arbiterBar) ",\"arbiter_bar_exceeded\":true" else "")))
      artifact.tierDone("arbiter")
    }
    if (errors.nonEmpty)
      System.err.println(s"[bench] ${errors.size} FAILED queries: ${errors.keys.toSeq.sorted.mkString(", ")}")
    // append this run's mins to the stability history (full runs only),
    // keeping the file bounded
    if (only.isEmpty) try {
      val p = java.nio.file.Paths.get(minsHistoryPath)
      import scala.jdk.CollectionConverters._
      val existing = if (java.nio.file.Files.exists(p))
        java.nio.file.Files.readAllLines(p).asScala.toSeq else Seq.empty
      val entry = "{\"sf\":\"" + sfDir + "\",\"cpus\":" + cpus +
        ",\"queries_min\":" + jmap(mins) + "}"
      java.nio.file.Files.writeString(p,
        ((existing :+ entry).takeRight(12) :+ "").mkString("\n"))
    } catch { case e: Throwable => System.err.println(s"[bench] mins history append failed: $e") }
    val line = artifact.render(interrupted = false)
    artifact.write()
    artifact.markDone()
    // The full artifact line first; the compact summary is the absolute
    // last stdout line, because a tail capture of ~2000 characters sliced
    // into the ~25 KB full line (BENCH_r18 `parsed: null`).
    println(line)
    System.out.flush()
    spark.stop()
    println(artifact.summary(cpus))
    System.out.flush()
  }
}
