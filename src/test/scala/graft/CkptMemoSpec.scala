package graft

import graft.ext.CkptMemo
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame

/** The memo's bounded LRU, at a cap small enough to reach: the entry
  * past the cap evicts the least recently used key, the eviction is
  * counted and WARN-logged with its key, and the evicted key rebuilds on
  * its next access while the kept ones still hit. A build that requests
  * its own key fails at once with the key; another thread requesting a
  * key under construction waits for that one build. */
class CkptMemoSpec extends SparkSpec {

  test("an eviction at cap + 1 is counted, logged and the evicted key rebuilds") {
    // start the session first: its start reconfigures logging, which
    // would drop an appender attached before it
    assert(!spark.sparkContext.isStopped)
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("ckpt-memo-spec", null, null, true,
                                        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warnings.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}")
    }
    val logger = LogManager.getLogger("graft.CkptMemo").asInstanceOf[CoreLogger]
    appender.start()
    logger.addAppender(appender)
    try {
      val memo = new CkptMemo(maxEntries = 2)
      val builds = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
      def get(key: String): DataFrame = memo.getOrElseUpdate(key, {
        builds(key) += 1
        spark.range(1).toDF(key)
      })
      get("a"); get("b")
      assert(memo.evictions === 0L)
      get("a")                        // hit; "b" is now the eldest
      assert(builds("a") === 1)
      get("c")                        // cap + 1: evicts "b"
      assert(memo.evictions === 1L)
      assert(warnings.size === 1)
      assert(warnings.peek().startsWith("WARN evicted b "), warnings.peek())
      assert(get("a").columns.toSeq === Seq("a"))
      assert(builds.toMap === Map("a" -> 1, "b" -> 1, "c" -> 1))
      assert(get("b").columns.toSeq === Seq("b")) // rebuilt, evicting "c"
      assert(builds("b") === 2)
      assert(memo.evictions === 2L)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  test("a build that requests its own key fails at once, names the key " +
       "and is not cached") {
    val memo = new CkptMemo(maxEntries = 4)
    var builds = 0
    def selfish(): DataFrame = memo.getOrElseUpdate("selfish-key", {
      builds += 1
      selfish()
    })
    val e = intercept[IllegalStateException](selfish())
    assert(e.getMessage.contains("selfish-key"), e.getMessage)
    assert(builds === 1)
    // the failed cell was dropped: the next request builds with its own body
    val df = memo.getOrElseUpdate("selfish-key", spark.range(1).toDF("ok"))
    assert(df.columns.toSeq === Seq("ok"))
  }

  test("another thread requesting a key under construction waits for " +
       "that one build") {
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    val memo = new CkptMemo(maxEntries = 4)
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def get(): DataFrame = memo.getOrElseUpdate("shared", {
      builds.incrementAndGet()
      started.countDown()
      release.await(30, TimeUnit.SECONDS)
      spark.range(3).toDF("v")
    })
    val pool = Executors.newFixedThreadPool(2)
    try {
      val first = pool.submit(new Callable[DataFrame] { def call() = get() })
      assert(started.await(30, TimeUnit.SECONDS))
      val second = pool.submit(new Callable[DataFrame] { def call() = get() })
      Thread.sleep(300)
      assert(!second.isDone, "the second request did not wait for the build")
      release.countDown()
      val (a, b) = (first.get(30, TimeUnit.SECONDS),
                    second.get(30, TimeUnit.SECONDS))
      assert(builds.get === 1)
      assert(a eq b)
    } finally pool.shutdownNow()
  }
}
