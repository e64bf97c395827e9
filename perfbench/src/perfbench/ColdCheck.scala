package perfbench

import graft.Tables
import org.apache.spark.sql.graft.ListenerSync

import PerfBench._

/** Measurements behind `perfbench/tests/test_cold_state.py`, which holds the
  * assertions:
  *
  *  - ivf_recall and pq_ann_topk: construction-phase jobs of two cold runs
  *    (fresh session, memos cleared) and of a warm rerun in the second
  *    run's session;
  *  - daily_lifecycle_stats: cold and warm time in the same session, next
  *    to the time a fresh session takes to resolve all ten tables, `reps`
  *    times each.
  */
object ColdCheck {
  val memoQueries = Seq("ivf_recall", "pq_ann_topk")
  val resolveQuery = "daily_lifecycle_stats"

  def run(cfg: Cfg): Map[String, Any] = {
    val root = buildRoot(cfg)
    val sc = root.sparkContext
    val warmUp = fresh(root, None)
    (memoQueries :+ resolveQuery).foreach { q => runQuery(warmUp, cfg, q, noop); cleanup(warmUp) }

    val tracer = new Tracer
    sc.addSparkListener(tracer)
    def constructJobs(s: org.apache.spark.sql.SparkSession, q: String): Int = {
      tracer.clear()
      runQuery(s, cfg, q, noop)
      cleanup(s)
      ListenerSync.drain(sc)
      tracer.jobs.values.count(_.label == Tracer.Label(q, "construct"))
    }
    val jobs = memoQueries.map { q =>
      val cold1 = constructJobs(fresh(root, None), q)
      val s = fresh(root, None)
      val cold2 = constructJobs(s, q)
      q -> Map("cold1" -> cold1, "cold2" -> cold2, "warm" -> constructJobs(s, q))
    }.toMap
    sc.removeSparkListener(tracer)

    val reps = 5
    val samples = (1 to reps).map { _ =>
      val s = fresh(root, None)
      val cold = secs { runQuery(s, cfg, resolveQuery, noop) }
      cleanup(s)
      val warm = secs { runQuery(s, cfg, resolveQuery, noop) }
      cleanup(s)
      val resolve = secs { resolveTables(fresh(root, None), cfg) }
      Map("cold_s" -> cold, "warm_s" -> warm, "resolve_s" -> resolve)
    }
    root.stop()
    Map("construct_jobs" -> jobs, "resolve" -> Map(resolveQuery -> samples))
  }
}
