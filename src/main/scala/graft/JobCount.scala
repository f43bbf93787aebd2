package graft

import org.apache.spark.sql.SparkSession

/** Per-key Spark JOB census — the measurement behind the round-8
  * job-reduction work (VERDICT r7 item 6): on a host that taxes every
  * job submission (the canary_10jobs axis), a key's exposure is its
  * job COUNT, not its data volume. Runs each named key once warm
  * (after an untimed build), counting jobs with Budget.jobsDuring.
  * Run: sbt "runMain graft.JobCount q_graph_hits q_graph_kcore ..."
  * (no args = the bench's slowest-family defaults). */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Tables.configure(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val keys: Seq[String] =
      if (args.sameElements(Array("--all")))
        SparkEntry.queries.keys.toSeq.sorted
      else if (args.nonEmpty) args.toSeq else Seq(
      "q_graph_hits", "q_graph_closeness", "q_graph_pagerank",
      "q_graph_reach", "q_graph_kcore", "q_graph_lpa",
      "q_layout_hilbert", "q_layout_skipping", "q_vec_label_noise")
    keys.foreach { k =>
      val fn = SparkEntry.queries(k)
      fn(spark, sfDir).count() // warm: caches/codegen built untimed
      val (sec, jobs) = Budget.jobsDuring(spark) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"JOBS $k%-28s $jobs%4d jobs  $sec%6.2f s warm")
    }
    spark.stop()
  }
}
