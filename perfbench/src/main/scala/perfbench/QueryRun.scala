package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Query workloads: a closed loop with one client. Each key execution
  * calls `graft.SparkEntry.queries(key)(spark, data)` (the operator packs
  * build the plan, running any construction-time jobs) and ends in the
  * all-column digest action. Warm passes run first and are untimed for
  * the metrics; timed passes follow until `seconds` have passed and at
  * least `min-ops` executions were timed (or exactly `passes` timed
  * passes, when given). Each pass runs the keys in an order shuffled by
  * the seed.
  *
  * Settings: keys (comma-separated, or * for the whole registry),
  * warm-passes, min-ops, passes. */
final class QueryRun(spark: SparkSession, a: Map[String, String],
    budget: Budget, trace: Option[Trace]) {
  private val data = a("data")
  private val keys =
    if (a("keys") == "*") graft.SparkEntry.queries.keys.toSeq.sorted
    else a("keys").split(",").toSeq.filter(_.nonEmpty)
  private val warmPasses = a("warm-passes").toInt
  private val minOps = a("min-ops").toInt
  private val passes = a.get("passes").map(_.toInt).getOrElse(0)
  private val rng = new scala.util.Random(a("seed").toLong)

  private case class Exec(op: Int, key: String, pass: Int,
      timed: Boolean, t0: Double, tb: Double, t1: Double, digest: String,
      rows: Long, error: String, phases: Map[String, (Double, Double)])
  private val execs = mutable.ArrayBuffer.empty[Exec]

  private def runKey(key: String, pass: Int, timed: Boolean): Unit = {
    val sc = spark.sparkContext
    val op = execs.size
    val t0 = Clock.nowMs
    var tb = t0
    var res: Digest.Result = null
    var error: String = null
    try {
      sc.setLocalProperty(Trace.TagKey, s"op$op.build")
      val df = graft.SparkEntry.queries(key)(spark, data)
      tb = Clock.nowMs
      sc.setLocalProperty(Trace.TagKey, s"op$op.action")
      res = Digest.of(df)
    } catch {
      case t: Throwable =>
        error = s"${t.getClass.getName}: ${t.getMessage}".take(400)
    } finally sc.setLocalProperty(Trace.TagKey, null)
    val t1 = Clock.nowMs
    val phases = Option(res).map(_.qe.tracker.phases.map { case (n, p) =>
      n -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }).getOrElse(Map.empty)
    execs += Exec(op, key, pass, timed, t0, tb, t1,
      Option(res).map(_.digest).orNull, Option(res).map(_.rows).getOrElse(-1L),
      error, phases)
  }

  def run(): () => Map[String, Any] = {
    val entriesBefore = graft.Caches.totalEntries
    val warmStart = Clock.nowMs
    for (p <- 0 until warmPasses) rng.shuffle(keys).foreach(runKey(_, p, false))
    val warmMs = Clock.nowMs - warmStart
    val entriesAfterSetup = graft.Caches.totalEntries
    val measureStart = Clock.nowMs
    val passMs = mutable.ArrayBuffer.empty[Double]
    def more: Boolean =
      if (passes > 0) passMs.size < passes
      else !budget.overCap && ((Clock.nowMs - measureStart) < budget.seconds * 1000 ||
        passMs.size * keys.size < minOps)
    while (more) {
      val ps = Clock.nowMs
      rng.shuffle(keys).foreach(runKey(_, warmPasses + passMs.size, true))
      passMs += Clock.nowMs - ps
    }
    val measureMs = Clock.nowMs - measureStart
    val entriesEnd = graft.Caches.totalEntries
    val heapMb = Resources.retainedHeapMb
    () => Map(
      "mode" -> "query",
      "setup_ms" -> (measureStart - budget.launchMs),
      "measure_ms" -> measureMs,
      "pass_ms" -> passMs,
      "retained_heap_mb" -> heapMb,
      "keys" -> keys.size,
      "caches" -> Map("before" -> entriesBefore,
        "after_setup" -> entriesAfterSetup, "end" -> entriesEnd,
        "warm_ms" -> warmMs),
      "execs" -> execs.map(e => Map(
        "op" -> e.op, "key" -> e.key, "pass" -> e.pass, "timed" -> e.timed,
        "ms" -> (e.t1 - e.t0), "build_ms" -> (e.tb - e.t0),
        "digest" -> Option(e.digest), "rows" -> e.rows,
        "error" -> Option(e.error))),
      "layers" -> trace.map(layers),
      "spans" -> trace.map(spans))
  }

  /** Per-execution layer record (read after the listener bus drained). */
  private def layers(t: Trace): Seq[Map[String, Any]] = execs.toSeq.map { e =>
    val b = t.totalsFor(s"op${e.op}.build")
    val x = t.totalsFor(s"op${e.op}.action")
    def ph(n: String) = e.phases.get(n).map { case (s, f) => f - s }.getOrElse(0.0)
    Map("op" -> e.op, "pass" -> e.pass, "timed" -> e.timed,
      "build_ms" -> (e.tb - e.t0), "build_jobs" -> b.jobs,
      "action_ms" -> (e.t1 - e.tb),
      "analysis_ms" -> ph("analysis"), "optimizer_ms" -> ph("optimization"),
      "planning_ms" -> ph("planning"),
      "idle_ms" -> t.idleMs(s"op${e.op}.action", e.tb, e.t1),
      "build" -> b.toMap, "action" -> x.toMap)
  }

  /** Spans of the timed executions. */
  private def spans(t: Trace): Seq[Map[String, Any]] = {
    val parents = mutable.HashMap.empty[String, (String, Int)]
    execs.filter(_.timed).foreach { e =>
      val id = s"${e.key}#${e.op}"
      val root = t.span(id, "op", 0, e.t0, e.t1)
      parents(s"op${e.op}.build") = id -> t.span(id, "operators.build", root, e.t0, e.tb)
      val act = t.span(id, "driver.action", root, e.tb, e.t1)
      parents(s"op${e.op}.action") = id -> act
      e.phases.foreach { case (n, (s, f)) => t.span(id, s"plans.$n", act, s, f) }
    }
    t.spansOut(parents.get)
  }
}
