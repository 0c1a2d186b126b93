package graft.util

import graft.SparkSpec
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, col, transform}

/** The stage cache's single-flight builds and session eviction: a build
  * that finishes after its session was evicted is handed to its caller
  * but neither stored nor left persisted. Tracked frames are keyed on
  * their analyzed plan, so rebuilding a frame reuses its entry.
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

  test("two builds of a frame with a functions lambda leave one persisted entry") {
    val s = spark.newSession()
    val before = persisted
    // `functions.transform` names its lambda variable afresh per build
    def build(off: Int): DataFrame = s.range(0, 100).toDF("id")
      .select(transform(array(col("id"), col("id")), x => x + off).as("v"))
    assert(Pipelines.trackedIn(s, "spec.lambda", build(1)).count() == 100)
    // the re-run's replace check must see the same plan and keep the
    // cache entry both builds share
    assert(Pipelines.trackedIn(s, "spec.lambda", build(1)).count() == 100)
    assert((persisted -- before).size == 1,
      s"a slot re-run left ${(persisted -- before).size} persisted entries")
    assert(Pipelines.tracked(s, build(2)).count() == 100)
    assert(Pipelines.tracked(s, build(2)).count() == 100)
    assert((persisted -- before).size == 2,
      s"a tracked re-run left ${(persisted -- before).size - 1} persisted entries")
    Pipelines.evict(s)
    assert(persisted == before)
  }
}
