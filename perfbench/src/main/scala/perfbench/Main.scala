package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. It runs one workload, times the calls into
  * the program's public entry points and writes the raw samples as one
  * JSON file; `run.py` aggregates them, checks them and prints the
  * metrics.
  *
  * Arguments (all `--name value`): mode (query | etl), data (table
  * dir), work (scratch dir), out (raw JSON file), cores, seed, seconds,
  * trace (0 | 1), launch-ms (epoch ms at process launch, the origin of
  * setup time), max-seconds (hard stop for starting new work), and the
  * mode's own settings (see QueryRun and EtlRun). */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cores = a("cores").toInt
    val work = a("work")
    Files.createDirectories(Paths.get(work))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the session graft.Bench builds, with its scratch dirs in `work`
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    graft.Tables.configure(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (a("trace") == "1") Some(new Trace) else None
    trace.foreach(t => spark.sparkContext.addSparkListener(t.listener))
    val budget = Budget(a("launch-ms").toDouble, a("seconds").toDouble,
      a("max-seconds").toDouble)
    val body = a("mode") match {
      case "query" => new QueryRun(spark, a, budget, trace).run()
      case "etl" => new EtlRun(spark, a, budget, trace).run()
      case m => sys.error(s"unknown mode $m")
    }
    PerfbenchAccess.drainListeners(spark.sparkContext)
    val result = body() ++ Map(
      "spark_version" -> spark.version,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "master" -> spark.sparkContext.master)
    Files.write(Paths.get(a("out")), Json(result).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Time origin and limits of one run: `seconds` is the measured window,
  * `maxSeconds` (from process launch) the point after which no new pass
  * or phase starts, so the process ends in time on a slow host. */
final case class Budget(launchMs: Double, seconds: Double, maxSeconds: Double) {
  def overCap: Boolean = Clock.nowMs - launchMs > maxSeconds * 1000
}

/** Heap still in use after a full collection (local mode puts the driver
  * and the executors in this one JVM): what the run holds, as opposed to
  * how far the collector let garbage accumulate. */
object Resources {
  def retainedHeapMb: Double = {
    // Spark's cleaner releases broadcast and shuffle state only after a
    // collection made its weakly referenced handles unreachable, so
    // collect until the reading stops falling
    val bean = ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); bean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = collect()
    var cur = prev
    var rounds = 0
    do {
      Thread.sleep(300)
      prev = cur
      cur = collect()
      rounds += 1
    } while (rounds < 6 && cur < prev * 0.995)
    cur
  }
}
