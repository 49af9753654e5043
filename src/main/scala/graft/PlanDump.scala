package graft

/** Dump `.explain("formatted")` for named queries to files (the plan
  * snapshots under `plans/`).
  *
  * Usage:
  *   sbt "runMain graft.PlanDump <outDir> <suffix> name1 name2 ..."
  * writes `<outDir>/<name>_<suffix>.txt` per query.
  *
  * The session uses the Bench session's shuffle width (8) at
  * SPARK_GRAFT_SF_DIR (default sf0.1) so the dumped plan is the one the
  * bench actually runs. The presentation sort is degraded to a plain
  * orderBy (QueryDef.PlainSortConf) so the inner plan is visible instead of
  * a checkpointed-RDD scan.
  *
  * Queries that run eager work during CONSTRUCTION (localCheckpoint-stepped
  * iterative paths: the ANN walks, pagerank, NN-descent) show only their
  * final frame here; `perfbench/run.py --trace 1` profiles their jobs and
  * stages.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>...")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = Sessions.local("plan-dump",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]", "8")
    s.conf.set(QueryDef.PlainSortConf, "true")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(s, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        (s"-- $name @ $sfDir --\n" + txt).getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $name ($suffix)")
    }
    s.stop()
  }
}
