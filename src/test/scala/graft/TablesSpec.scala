package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** Config paths of [[Tables]]. */
class TablesSpec extends SparkSpec {
  test("spark.graft.pin.mode=persist: rows identical to local, pins are DISK_ONLY InMemoryRelations") {
    val query = SparkEntry.queries("dedup_minhash_lsh")
    val local = query(spark, Sf).collect().map(_.toString).sorted.toSeq
    assert(local.nonEmpty)
    spark.conf.set("spark.graft.pin.mode", "persist")
    try {
      val df = query(spark, Sf)
      val pins = df.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r.cacheBuilder.storageLevel
      }
      assert(pins.nonEmpty && pins.forall(_ == StorageLevel.DISK_ONLY), pins)
      assert(df.collect().map(_.toString).sorted.toSeq == local)
    } finally {
      spark.conf.unset("spark.graft.pin.mode")
      spark.catalog.clearCache()
    }
  }
}
