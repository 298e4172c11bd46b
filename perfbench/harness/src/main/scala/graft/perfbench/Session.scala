package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Session builders: each workload gets the settings of the program
  * entry point it stands for, plus scratch locations inside `work`. */
object Session {
  private def base(cores: Int, work: String, app: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")

  /** `ImportDump`'s session. */
  def importer(cores: Int, work: String): SparkSession = {
    val s = base(cores, work, "perfbench-import")
      .config("spark.sql.files.maxPartitionBytes", 32L * 1024 * 1024)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `graft.Bench`'s defaults, without its environment knobs. */
  def bench(cores: Int, work: String): SparkSession = {
    val shuffle = math.min(cores, 8)
    val s = base(cores, work, "perfbench-queries")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        math.max(cores, shuffle).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.wholeStage", "true")
      .config(graft.Tables.NanosConf, "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
