package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * Local runs parallelize across `local[cpus]`; on a cluster the same confs
  * apply with `spark.sql.shuffle.partitions` sized to the executor count
  * (the env override below). AQE handles runtime re-planning — coalescing
  * small shuffle partitions and splitting skewed joins — so static partition
  * counts only need to be in the right order of magnitude.
  */
object GraftSession {
  /** Hadoop key and class that put `file:` `FileContext` I/O (checkpoints,
    * state-store files) on the process-free [[NioLocalFs]]. */
  val LocalFsConf: (String, String) = "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName

  def builder(cpus: String): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.hadoop." + LocalFsConf._1, LocalFsConf._2)

  def create(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = builder(cpus).appName(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
