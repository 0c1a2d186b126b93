package graft.util

import graft.SparkSpec
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame

/** The stage cache's single-flight builds and session eviction: a build
  * that finishes after its session was evicted is handed to its caller
  * but neither stored nor left persisted.
  */
class PipelinesSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a cachedDF build finished after evict leaves no entry and no persisted frame") {
    val s = spark.newSession()
    val (building, release) = (new CountDownLatch(1), new CountDownLatch(1))
    val before = persisted
    var built: DataFrame = null
    val t = new Thread(() => built = Pipelines.cachedDF(s, "spec.race") {
      building.countDown()
      assert(release.await(60, TimeUnit.SECONDS))
      s.range(0, 100).toDF("id")
    })
    t.start()
    assert(building.await(60, TimeUnit.SECONDS), "the build never started")
    Pipelines.evict(s)
    release.countDown()
    t.join(60000)
    assert(built != null && built.count() == 100, "the caller did not get its frame")
    assert(persisted == before, s"evicted build left ${persisted -- before} persisted")
    var rebuilt = false
    Pipelines.cachedDF(s, "spec.race") { rebuilt = true; s.range(0, 1).toDF("id") }
    assert(rebuilt, "the evicted build was stored")
    Pipelines.evict(s)
    assert(persisted == before)
  }
}
