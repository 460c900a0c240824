package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(getClass.getSimpleName)
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.GraftFunctions.ensureRegistered(s)
    s
  }

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM; don't stop it
    super.afterAll()
  }

  val Sf = "/root/testdata/sf0.001"

  /** Runs `body` under its own job group and returns its result with the
    * number of Spark jobs it ran. The status store learns of jobs from the
    * listener bus, in order: once it has seen a barrier job run after the
    * body in a second group, it has seen every job of the body. */
  def withJobs[T](label: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"$label-${System.nanoTime}"
    sc.setJobGroup(group, label)
    val out = try body finally sc.clearJobGroup()
    val barrier = s"$group-barrier"
    sc.setJobGroup(barrier, "barrier")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(barrier).isEmpty && System.nanoTime < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(barrier).nonEmpty, "status store stalled")
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}
