package graft.util

import graft.SparkSpec
import graft.sfa.{ModelIO, Weasel, WeaselClassifier}
import graft.ts.Cbf
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, CyclicBarrier, TimeUnit}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graft.Bridge
import scala.jdk.CollectionConverters._

/** [[Overlap]] runs arms under the caller's Spark local properties,
  * cancels a running sibling's jobs when an arm fails, reports every
  * failure, and completes when scopes nest deeper than its pool; and it
  * is the only place in `src/main` that builds threads or futures.
  */
class OverlapSpec extends SparkSpec {

  /** Records every job start and end the listener bus delivers. */
  private class Jobs extends SparkListener {
    val started = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ended = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
    override def onJobStart(e: SparkListenerJobStart): Unit = started.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e)
  }

  private def listening[T](body: Jobs => T): T = {
    val jobs = new Jobs
    spark.sparkContext.addSparkListener(jobs)
    try body(jobs) finally spark.sparkContext.removeSparkListener(jobs)
  }

  /** Runs `body` on a fresh thread whose job group is `group`. */
  private def onThreadInGroup(group: String)(body: => Unit): Unit = {
    var error: Option[Throwable] = None
    val t = new Thread(() => {
      spark.sparkContext.setJobGroup(group, s"description $group")
      try body catch { case e: Throwable => error = Some(e) }
      finally spark.sparkContext.clearJobGroup()
    })
    t.start()
    t.join()
    error.foreach(e => throw e)
  }

  private def groupAndDescription(e: SparkListenerJobStart): (String, String) =
    (e.properties.getProperty("spark.jobGroup.id"), e.properties.getProperty("spark.job.description"))

  test("every job of a ModelIO save carries its caller's job group and description") {
    import spark.implicits._
    val train = Cbf(18, 64, seed = 7301L).toSeq.zipWithIndex
      .map { case ((l, d), i) => (i.toLong, l, d.toSeq) }.toDF("id", "label", "data")
    val model = new WeaselClassifier(Weasel.Config(minF = 4, maxF = 4, folds = 2,
      normalization = Seq(true), minWindowLength = 8, maxWindowLength = 9, lrMaxIter = 5)).fit(train)
    val dir = java.nio.file.Files.createTempDirectory("overlap-props").toString
    // the first call, on one thread, makes the pool's threads; the
    // second, from another thread, must not see the first's properties
    Seq("a", "b").foreach { g =>
      val seen = listening { jobs =>
        onThreadInGroup(g)(ModelIO.saveWeasel(model, s"$dir/$g"))
        Bridge.waitListenerBus(spark.sparkContext)
        jobs.started.asScala.toSeq.map(groupAndDescription)
      }
      assert(seen.length >= 5, s"group $g: only ${seen.length} jobs")
      seen.foreach(p => assert(p == ((g, s"description $g")), s"a job of the save under $g read $p"))
    }
    model.selected.unpersist()
  }

  test("a failing arm cancels a sibling's running job and both failures surface") {
    listening { jobs =>
      val slowStarted = new CountDownLatch(1)
      val watcher = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties.getProperty("spark.jobGroup.id") == "cancel") slowStarted.countDown()
      }
      spark.sparkContext.addSparkListener(watcher)
      var thrown: Option[Throwable] = None
      try onThreadInGroup("cancel") {
        thrown = scala.util.Try(Overlap(spark) { o =>
          // a job whose tasks run until they are killed (at most 2 min)
          o.fork(spark.sparkContext.parallelize(1 to 2, 2).map { x =>
            val t0 = System.nanoTime()
            while (!TaskContext.get().isInterrupted() && System.nanoTime() - t0 < 120e9) Thread.sleep(20)
            x
          }.count())
          o.fork {
            assert(slowStarted.await(60, TimeUnit.SECONDS), "the slow job never started")
            throw new IllegalStateException("boom")
          }
        }).failed.toOption
      } finally spark.sparkContext.removeSparkListener(watcher)
      Bridge.waitListenerBus(spark.sparkContext)
      val e = thrown.getOrElse(fail("the scope did not fail"))
      assert(e.isInstanceOf[IllegalStateException] && e.getMessage == "boom", e)
      assert(e.getSuppressed.exists(_.isInstanceOf[org.apache.spark.SparkException]),
        s"the cancelled sibling's failure is not attached: ${e.getSuppressed.toSeq}")
      val slowIds = jobs.started.asScala.filter(_.properties.getProperty("spark.jobGroup.id") == "cancel")
        .map(_.jobId).toSet
      assert(slowIds.size == 1, slowIds)
      val ends = jobs.ended.asScala.filter(j => slowIds(j.jobId)).map(_.jobResult).toSeq
      assert(ends.length == 1 && ends.head.isInstanceOf[JobFailed], ends)
    }
  }

  test("two failing arms: the first is thrown, the other attached as suppressed") {
    val barrier = new CyclicBarrier(2)
    val e = intercept[RuntimeException](Overlap(spark) { o =>
      o.fork { barrier.await(60, TimeUnit.SECONDS); throw new IllegalStateException("x") }
      o.fork { barrier.await(60, TimeUnit.SECONDS); throw new IllegalArgumentException("y") }
    })
    val all = (e +: e.getSuppressed.toSeq).map(_.getMessage)
    assert(all.sorted == Seq("x", "y"), all)
  }

  test("scopes nested deeper than the pool complete without extra threads") {
    val bound = math.max(2, Runtime.getRuntime.availableProcessors)
    def leaves(depth: Int): Int =
      if (depth == 0) 1
      else Overlap(spark) { o =>
        val (a, b) = (o.fork(leaves(depth - 1)), o.fork(leaves(depth - 1)))
        a.join() + b.join()
      }
    var got = 0
    val t = new Thread(() => got = leaves(bound + 2))
    t.start()
    t.join(120000)
    assert(got == 1 << (bound + 2), "nested scopes did not complete")
    val poolThreads = Thread.getAllStackTraces.keySet.asScala.count(_.getName == "graft-overlap")
    assert(poolThreads <= bound, s"$poolThreads pool threads for a bound of $bound")
  }

  test("no thread pool, future or await in src/main outside Overlap") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    val banned = Seq("scala.concurrent", "ExecutionContext", "Await.result", "Future(", "Future {",
      "Executors.")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f).filter(_.getName.endsWith(".scala"))
    val hits = for {
      f <- files(root) if f.getName != "Overlap.scala"
      (line, n) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${f.getPath}:${n + 1}: $b"
    assert(files(root).exists(_.getName == "Overlap.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
