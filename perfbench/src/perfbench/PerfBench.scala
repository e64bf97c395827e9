package perfbench

import scala.collection.mutable

import graft.{GraftSession, SparkEntry, Tables, Tuning}
import graft.ops.Similarity
import org.apache.spark.sql.graft.ListenerSync
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM half of the benchmark (`perfbench/run.py` is the other half).
  *
  * One closed-loop client runs one catalog query at a time on
  * `local[cores]`, the way `graft.Verify` does: through
  * `SparkEntry.queries`, inside `Tuning.withTuned`. A run is:
  *
  *  1. set-up, first thing in the fresh JVM: build and arm a session and
  *     run its first job;
  *  2. an untimed dump of every query to parquet, in one session (the oracle
  *     check reads it; it also warms the JIT and the codegen cache);
  *  3. three warm passes: every query again in that same session, nothing
  *     reset;
  *  4. cold passes in the seed's order until `seconds` are used: before each
  *     query a fresh session is built, armed and initialised and the
  *     trained-artifact memos are cleared, all outside the query's time.
  *
  * With `trace=1` the cold phase is one untraced pass followed by one pass
  * with listeners attached, and the last warm pass is traced too.
  * Everything the run measured goes to `out` as JSON; run.py turns it into
  * metrics.
  *
  * `mode=coldcheck` instead runs the cold-state checks of
  * `perfbench/tests/test_cold_state.py`.
  */
object PerfBench {

  final case class Cfg(workload: String, data: String, cores: Int, localDir: String,
                       out: String, dump: String, order: Seq[String], seconds: Double,
                       trace: Boolean)

  private lazy val catalog = SparkEntry.queries

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cfg = Cfg(opt.getOrElse("workload", ""), opt("data"), opt("cores").toInt,
      opt("localDir"), opt("out"), opt.getOrElse("dump", ""),
      opt.getOrElse("order", "").split(",").toSeq.filter(_.nonEmpty),
      opt.getOrElse("seconds", "0").toDouble, opt.getOrElse("trace", "0") == "1")
    val result = opt.getOrElse("mode", "bench") match {
      case "bench" => bench(cfg)
      case "coldcheck" => ColdCheck.run(cfg)
      case m => sys.error(s"unknown mode $m")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg.out), Json(result))
  }

  // ── sessions ───────────────────────────────────────────────────────────

  def buildRoot(cfg: Cfg): SparkSession = {
    val s = GraftSession.builder()
      .master(s"local[${cfg.cores}]")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.localDir)
      .getOrCreate()
    GraftSession.arm(s)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set-up as a fresh process pays it: build and arm the session, then run
    * its first job. Called first thing in the JVM, so Spark's and the
    * library's classes load inside it.
    */
  def setup(cfg: Cfg): (SparkSession, Map[String, Double]) = {
    val t0 = System.nanoTime()
    val root = buildRoot(cfg)
    val t1 = System.nanoTime()
    root.range(1).collect()
    val t2 = System.nanoTime()
    (root, Map("build_s" -> (t1 - t0) / 1e9, "setup_s" -> (t2 - t0) / 1e9))
  }

  /** The cold protocol: a new session (fresh Tables relation cache and
    * CatalogCore staging maps, both keyed per session), armed, initialised
    * with a trivial job, and the process-global Similarity memos cleared.
    */
  def fresh(root: SparkSession, tracer: Option[Tracer]): SparkSession = {
    val s = root.newSession()
    GraftSession.arm(s)
    tracer.foreach(_.watchStreams(s))
    s.range(1).collect()
    Similarity.clearSimilarityMemos()
    s
  }

  def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Run `name` on `s` the way Verify does, sinking the result with `sink`.
    * Jobs are tagged with the query and the phase that causes them.
    */
  def runQuery(s: SparkSession, cfg: Cfg, name: String,
               sink: DataFrame => Unit): Timing = {
    val sc = s.sparkContext
    def tagged[A](phase: String)(body: => A): A = {
      val t = Tracer.tag(name, phase)
      sc.addJobTag(t)
      try body finally sc.removeJobTag(t)
    }
    Tuning.withTuned(s, name) {
      val t0 = System.nanoTime()
      val df = tagged("construct")(catalog(name)(s, cfg.data))
      val t1 = System.nanoTime()
      tagged("exec")(sink(df))
      val analysis = df.queryExecution.tracker.phases.get("analysis")
        .map(p => (p.startTimeMs, p.endTimeMs))
      Timing((t1 - t0) / 1e9, analysis)
    }
  }

  /** Harness-side times of one query: construction (the catalog function,
    * eager jobs included) and the analysis phase of the DataFrame it
    * returned (epoch ms), which ran inside construction.
    */
  final case class Timing(constructS: Double, analysis: Option[(Long, Long)])

  val noop: DataFrame => Unit = _.write.mode("overwrite").format("noop").save()

  /** Drop what a query may have cached or checkpointed, as Bench does. */
  def cleanup(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def errorClass(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(160)
    s"${e.getClass.getName}${if (root ne e) s" (cause ${root.getClass.getName})" else ""}: $msg"
  }

  // ── the run ────────────────────────────────────────────────────────────

  def bench(cfg: Cfg): Map[String, Any] = {
    val (root, setupTimes) = setup(cfg)
    val unknown = cfg.order.filterNot(catalog.contains)
    require(unknown.isEmpty, s"not catalog queries: ${unknown.mkString(", ")}")
    val sc = root.sparkContext
    val errors = mutable.LinkedHashMap[String, String]()
    def attempt(name: String)(body: => Unit): Boolean =
      try { body; true } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(name, errorClass(e)); false
      }
    val calib = mutable.ArrayBuffer[Double]()
    if (cfg.trace) calib += Calib(root, cfg)

    // 2. untimed dump, one session; it is also the JIT and codegen warm-up.
    // The dump and the warm passes run in name order, so the JIT profiles the
    // timed cold passes start from do not depend on the seed's shuffle.
    val canonical = cfg.order.sorted
    val warmSession = fresh(root, None)
    writeOracles(cfg)
    val dumpT0 = System.nanoTime()
    canonical.foreach { name =>
      attempt(name) {
        runQuery(warmSession, cfg, name,
          _.write.mode("overwrite").parquet(s"${cfg.dump}/$name"))
      }
      cleanup(warmSession)
    }
    val dumpS = (System.nanoTime() - dumpT0) / 1e9

    // 3. warm passes: same session, no reset. Right after the dump the JIT
    // is still compiling, so the first pass reads 20-40 % slow; run.py
    // reports the median pass.
    def warmPass(): Map[String, Any] = {
      val t0 = System.nanoTime()
      val queries = canonical.map { name =>
        val q0 = System.nanoTime()
        val ok = attempt(name)(runQuery(warmSession, cfg, name, noop))
        cleanup(warmSession)
        Map("name" -> name, "query_s" -> (System.nanoTime() - q0) / 1e9, "ok" -> ok)
      }
      Map("wall_s" -> (System.nanoTime() - t0) / 1e9, "queries" -> queries)
    }
    val warmPasses = mutable.ArrayBuffer(warmPass(), warmPass())
    val tracer = if (cfg.trace) Some(new Tracer) else None
    tracer.foreach { t => sc.addSparkListener(t); t.watchStreams(warmSession) }
    warmPasses += warmPass()
    val warmTrace = tracer.map { t =>
      ListenerSync.drain(sc)
      val constructJobs = t.jobs.values.count(_.label.phase == "construct")
      sc.removeSparkListener(t); t.clear()
      Map("construct_jobs" -> constructJobs)
    }

    // 4. cold passes
    def coldPass(tr: Option[Tracer]): Map[String, Any] = {
      tr.foreach(sc.addSparkListener)
      val recs = mutable.ArrayBuffer[Map[String, Any]]()
      val spans = new Spans
      val passT0 = System.nanoTime()
      for (name <- cfg.order) {
        val slotT0 = System.nanoTime()
        var s: SparkSession = null
        val freshS = secs { s = fresh(root, tr) }
        tr.foreach(_.currentQuery = name)
        val q0 = System.nanoTime()
        var timing = Timing(0.0, None)
        val ok = attempt(name) { timing = runQuery(s, cfg, name, noop) }
        val q1 = System.nanoTime()
        cleanup(s)
        val rec = mutable.LinkedHashMap[String, Any](
          "name" -> name, "ok" -> ok, "fresh_s" -> freshS,
          "query_s" -> (q1 - q0) / 1e9, "slot_s" -> (System.nanoTime() - slotT0) / 1e9)
        tr.foreach { t =>
          ListenerSync.drain(sc)
          rec ++= spans.query(t, name, q0, q1, timing)
        }
        recs += rec.toMap
      }
      val passT1 = System.nanoTime()
      val wall = (passT1 - passT0) / 1e9
      val traced = tr.map { t =>
        spans.workload(cfg.workload, passT0, passT1)
        sc.removeSparkListener(t)
        val layers = Layers(t, recs.toSeq, cfg.cores)
        t.clear()
        Map("layers" -> layers, "spans" -> spans.rows.toSeq)
      }
      Map("wall_s" -> wall, "queries" -> recs.toSeq) ++ traced.getOrElse(Map.empty)
    }

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val coldT0 = System.nanoTime()
    if (cfg.trace) {
      passes += coldPass(None)
      passes += coldPass(Some(new Tracer))
    } else {
      def elapsed = (System.nanoTime() - coldT0) / 1e9
      do passes += coldPass(None)
      while (elapsed + elapsed / passes.size <= cfg.seconds)
    }

    val extra: Map[String, Any] = if (cfg.trace) {
      val s = fresh(root, None)
      val resolve = secs(resolveTables(s, cfg))
      val resolveWarm = secs(resolveTables(s, cfg))
      calib += Calib(root, cfg)
      Map("tables_resolve_s" -> resolve, "tables_resolve_warm_s" -> resolveWarm,
          "calib_s" -> calib.toSeq, "warm_trace" -> warmTrace.get)
    } else Map.empty
    root.stop()
    Map("cores" -> cfg.cores, "order" -> cfg.order, "setup" -> setupTimes,
        "dump_s" -> dumpS, "errors" -> errors.toMap, "warm" -> warmPasses.toSeq,
        "cold" -> passes.toSeq, "peak_rss_mb" -> peakRssMb()) ++ extra
  }

  /** The DuckDB twins of the run's queries, next to the dump, in the
    * layout `tools/selfcheck.py` reads.
    */
  def writeOracles(cfg: Cfg): Unit = {
    val sql = SparkEntry.oracleSql.filter { case (k, _) => cfg.order.contains(k) }
    new java.io.File(cfg.dump).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(cfg.dump, "oracle_sql.json"), Json(sql))
  }

  /** Resolve all ten tables through the public Tables accessors. */
  def resolveTables(s: SparkSession, cfg: Cfg): Unit = {
    val d = cfg.data
    Seq(Tables.region _, Tables.nation _, Tables.customer _, Tables.supplier _,
        Tables.part _, Tables.orders _, Tables.lineitem _, Tables.documents _,
        Tables.embeddings _, Tables.events _).foreach(f => f(s, d))
  }

  /** The driver's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** A fixed probe job (an xxhash fold over a range, all cores), timed
  * around the measurement. Diagnostic only: it says how fast the host ran.
  */
object Calib {
  def apply(s: SparkSession, cfg: PerfBench.Cfg): Double = PerfBench.secs {
    s.range(0L, 100000000L, 1L, cfg.cores).selectExpr("bit_xor(xxhash64(id))").collect()
  }
}
